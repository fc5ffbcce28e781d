"""Property tests for GloVe training (SURVEY.md §5.3.2).

The driver's rows-only check can't see training quality, so these
tests carry the correctness burden: monotone loss, exact shapes,
seeded determinism, and co-occurrence/synonym coherence.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from spark_glove_spark.glove import Glove

CFG = dict(dim=8, window=5, min_count=5, seed=42, blocks=4)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)


@pytest.fixture(scope="module")
def model(docs):
    return Glove(iterations=5, **CFG).fit(docs)


def test_loss_strictly_decreases(model):
    assert len(model.losses) == 5
    for a, b in zip(model.losses, model.losses[1:]):
        assert b < a, f"loss increased: {model.losses}"
    assert all(math.isfinite(x) and x > 0 for x in model.losses)


def test_shapes(docs, model):
    vocab_size = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .count()
        .where(F.col("count") >= CFG["min_count"])
        .count()
    )
    rows = model.vectors.collect()
    assert len(rows) == vocab_size
    assert all(len(r.vector) == CFG["dim"] for r in rows)
    assert all(all(math.isfinite(v) for v in r.vector) for r in rows)


def test_seeded_determinism(docs):
    def rounded(m):
        return {
            r.word: tuple(round(v, 6) for v in r.vector)
            for r in m.vectors.collect()
        }

    m1 = Glove(iterations=2, **CFG).fit(docs)
    m2 = Glove(iterations=2, **CFG).fit(docs)
    assert rounded(m1) == rounded(m2)


def test_different_seed_differs(docs):
    cfg = {**CFG, "seed": 7}
    m1 = Glove(iterations=1, **CFG).fit(docs)
    m2 = Glove(iterations=1, **cfg).fit(docs)
    v1 = m1.vectors.where(F.col("word") == "spark").collect()[0].vector
    v2 = m2.vectors.where(F.col("word") == "spark").collect()[0].vector
    assert tuple(v1) != tuple(v2)


def test_find_synonyms_shape(model):
    rows = model.find_synonyms("spark", 5).collect()
    assert len(rows) == 5
    assert all(-1.0 - 1e-9 <= r.cos <= 1.0 + 1e-9 for r in rows)
    # descending order, query word excluded
    assert all(rows[i].cos >= rows[i + 1].cos for i in range(len(rows) - 1))
    assert all(r.word != "spark" for r in rows)


def test_analogy_shape(model):
    rows = model.analogy("spark", "query", "table", k=3).collect()
    assert len(rows) == 3
    assert all(r.word not in ("spark", "query", "table") for r in rows)


def test_planted_topic_separation(spark):
    """Training-quality teeth (replaces SURVEY §5.3.2's PMI-overlap
    idea — measured: the fixture corpus is near-independent word salad,
    PMI stdev 0.18, so it has NO latent similarity structure to
    recover). Here ground truth is planted: two disjoint word topics →
    trained vectors must cluster by topic."""
    import random

    import numpy as np

    rng = random.Random(7)
    topics = {"A": [f"a{i}" for i in range(5)], "B": [f"b{i}" for i in range(5)]}
    rows = [
        (d, " ".join(rng.choice(topics["A" if d % 2 == 0 else "B"]) for _ in range(30)))
        for d in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m = Glove(dim=4, window=5, min_count=5, iterations=40, seed=42, blocks=2).fit(df)
    vec = {r.word: np.array(r.vector) for r in m.vectors.collect()}
    words = sorted(vec)
    M = np.stack([vec[w] for w in words])
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    cos = M @ M.T
    intra = [
        cos[i, j]
        for i in range(len(words))
        for j in range(i + 1, len(words))
        if words[i][0] == words[j][0]
    ]
    inter = [
        cos[i, j]
        for i in range(len(words))
        for j in range(i + 1, len(words))
        if words[i][0] != words[j][0]
    ]
    assert float(np.mean(intra)) > 0.8, f"intra-topic cosine {np.mean(intra):.3f}"
    assert float(np.mean(inter)) < 0.2, f"inter-topic cosine {np.mean(inter):.3f}"
    top1_same = sum(
        words[i][0] == words[int(np.argsort(-cos[i])[1])][0]
        for i in range(len(words))
    )
    assert top1_same >= 9, f"only {top1_same}/10 top-1 neighbors same-topic"


def test_transform_mean_pools(docs, model):
    out = {r[0]: list(r[1]) for r in model.transform(docs).collect()}
    assert out, "transform produced no document vectors"
    assert all(len(v) == CFG["dim"] for v in out.values())
    # hand-check one document: mean of its in-vocab word vectors
    doc = docs.limit(1).collect()[0]
    vecs = {r.word: r.vector for r in model.vectors.collect()}
    words = [w for w in doc.text.split(" ") if w in vecs]
    expected = [
        sum(vecs[w][d] for w in words) / len(words) for d in range(CFG["dim"])
    ]
    got = out[doc.doc_id]
    assert all(abs(a - b) < 1e-9 for a, b in zip(got, expected))


def test_transform_emits_zero_vector_for_oov_only_doc(spark, docs, model):
    """Word2VecModel.transform parity: a document whose tokens are all
    out-of-vocabulary still gets a row — the zero vector — rather than
    silently dropping out of the join."""
    oov = spark.createDataFrame(
        [(999_999, "zzzqx vvwqk notinvocab")], "doc_id long, text string"
    )
    both = docs.select("doc_id", "text").unionByName(oov)
    out = {r[0]: list(r[1]) for r in model.transform(both).collect()}
    assert 999_999 in out, "OOV-only document dropped from transform output"
    assert out[999_999] == [0.0] * CFG["dim"]
    assert len(out) == docs.count() + 1


def test_model_save_load_roundtrip(spark, model, tmp_path):
    from spark_glove_spark.glove import GloveModel

    path = str(tmp_path / "model")
    model.save(path)
    loaded = GloveModel.load(spark, path)
    orig = {r.word: tuple(r.vector) for r in model.vectors.collect()}
    back = {r.word: tuple(r.vector) for r in loaded.vectors.collect()}
    assert orig == back
    assert loaded.find_synonyms("spark", 3).count() == 3


def test_shuffle_join_path_matches_broadcast_path(spark, docs):
    """The 100 TB execution path (params too big to broadcast → the
    pre-partitioned shuffle join, SURVEY §4.3.3) must produce EXACTLY
    the same model as the broadcast path — physical strategy can never
    change results. broadcast_max_weights=0 forces the join path, and
    autoBroadcastJoinThreshold=-1 keeps Spark from planning this tiny
    params table's X ⋈ params joins as broadcast joins after all."""
    def rounded(m):
        return {
            r.word: tuple(round(v, 9) for v in r.vector)
            for r in m.vectors.collect()
        }

    bcast = Glove(iterations=3, **CFG).fit(docs)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        shuffled = Glove(iterations=3, broadcast_max_weights=0, **CFG).fit(docs)
        # the model's frames are lazy: collect them under the same conf
        shuffled_vecs = rounded(shuffled)
    finally:
        spark.conf.set(key, prev)
    assert [round(x, 6) for x in bcast.losses] == [
        round(x, 6) for x in shuffled.losses
    ]
    assert rounded(bcast) == shuffled_vecs


def test_max_vocab_truncates_to_top_frequency(spark, docs):
    m = Glove(iterations=1, max_vocab=10, **{k: v for k, v in CFG.items()})\
        .fit(docs)
    words = {r.word for r in m.vectors.collect()}
    assert len(words) == 10
    top10 = {
        r.w
        for r in docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .count()
        .orderBy(F.col("count").desc(), "w")
        .limit(10)
        .collect()
    }
    assert words == top10


def test_fit_accepts_pretokenized_corpus(spark, docs):
    """A pre-tokenized array<string> corpus must train to the exact
    same model as the raw-text corpus it came from."""
    pre = docs.select("doc_id", F.split("text", " ").alias("tokens"))
    m_text = Glove(iterations=2, **CFG).fit(docs)
    m_tok = Glove(iterations=2, **CFG).fit(pre, text_col="tokens")
    a = {r.word: tuple(round(v, 9) for v in r.vector) for r in m_text.vectors.collect()}
    b = {r.word: tuple(round(v, 9) for v in r.vector) for r in m_tok.vectors.collect()}
    assert a == b


def test_planted_analogy_recovery(spark):
    """VERDICT r6 item 8 — the last GloVe-paper-surface tooth: plant
    a:b :: c:d structure BY CONSTRUCTION and assert top-1 analogy
    recovery after convergence. Construction: target words w_{t,g}
    carry a topic t and a binary feature g; every document mixes one
    target with its topic's context words AND its feature's context
    words, so the trained vectors factor additively (vec ≈ topic_t +
    feat_g) and w_{t,0} : w_{t,1} :: w_{s,0} : w_{s,1} must hold —
    the word2vec/GloVe analogy identity, testable here because the
    offset is planted rather than hoped for."""
    import random

    rng = random.Random(11)
    topics, feats = 4, 2
    target = {(t, g): f"w{t}{g}" for t in range(topics) for g in range(feats)}
    tctx = {t: [f"t{t}x{i}" for i in range(3)] for t in range(topics)}
    gctx = {g: [f"g{g}x{i}" for i in range(3)] for g in range(feats)}
    rows = []
    for d in range(600):
        t, g = d % topics, (d // topics) % feats
        words = []
        for _ in range(12):
            words.append(target[(t, g)])
            words.append(rng.choice(tctx[t]))
            words.append(rng.choice(gctx[g]))
        rows.append((d, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m = Glove(
        dim=8, window=4, min_count=5, iterations=50, seed=3, blocks=2
    ).fit(df)
    hits, total = 0, 0
    for t in range(topics):
        for s in range(topics):
            if s == t:
                continue
            total += 1
            # q = vec(a) − vec(b) + vec(c): w_t1 − w_t0 + w_s0 ≈ w_s1
            got = m.analogy(
                target[(t, 1)], target[(t, 0)], target[(s, 0)], k=1
            ).collect()[0].word
            hits += got == target[(s, 1)]
    assert hits >= total - 2, f"analogy recovery {hits}/{total}"


def test_warmstart_continuation_equals_uninterrupted(spark, docs):
    """r13: Glove.fit(initial_state=...) must make a 2+2-iteration
    split run IDENTICAL to one uninterrupted 4-iteration run — the
    fit is deterministic in (X, state) and the state carries the
    embeddings, biases, AND AdaGrad accumulators, so continuation is
    provably lossless, not merely 'helpful'. Also pins that the state
    survives a parquet round trip (the cross-session workflow) and
    that new vocabulary warm-starts fresh while carried words keep
    their vectors."""
    import tempfile

    from pyspark.sql import functions as F

    from spark_glove_spark.glove import Glove

    cfg = dict(dim=2, window=2, min_count=5, eta=0.2, init="grid")
    full = Glove(iterations=4, **cfg).fit(docs)
    half = Glove(iterations=2, **cfg).fit(docs)
    # cross-session shape: state -> parquet -> state
    path = tempfile.mkdtemp(prefix="glove_state_") + "/state"
    half.state.write.mode("overwrite").parquet(path)
    resumed = Glove(iterations=2, **cfg).fit(
        docs, initial_state=spark.read.parquet(path)
    )
    # losses: the resumed run's 2 iterations are the full run's last 2
    assert [round(x, 9) for x in resumed.losses] == [
        round(x, 9) for x in full.losses[2:]
    ]
    # vectors: bit-for-bit at 9 dp
    def vecs(m):
        return {
            r["word"]: tuple(round(v, 9) for v in r["vector"])
            for r in m.vectors.collect()
        }

    assert vecs(resumed) == vecs(full)
    # vocabulary shift: dropping rows shrinks the vocab; carried words
    # inherit state (not fresh init), new-corpus fit still works
    sub = docs.limit(120)
    shifted = Glove(iterations=1, **cfg).fit(sub, initial_state=half.state)
    carried = (
        shifted.state.join(half.state.select("word"), "word").count()
    )
    assert 0 < carried <= shifted.state.count()
    # a carried word's accumulators must exceed the fresh-init 1.0
    some = (
        shifted.state.join(half.state.select("word"), "word")
        .select(F.max("gb").alias("g"))
        .collect()[0]["g"]
    )
    assert some > 1.0, "carried words lost their AdaGrad accumulators"


def test_fit_releases_superseded_checkpoints(spark, docs):
    """Each iteration checkpoints its parameters; once the next one is
    materialized the old checkpoint must be released, so what a fit
    leaves persisted (only what the returned model reads) does not grow
    with ``iterations``. Counted by RDD id, so RDDs freed meanwhile from
    earlier tests cannot mask a leak."""
    jsc = spark.sparkContext._jsc

    def held_after(iterations: int) -> int:
        before = set(jsc.getPersistentRDDs().keySet())
        Glove(iterations=iterations, **CFG).fit(docs)
        return len(set(jsc.getPersistentRDDs().keySet()) - before)

    assert held_after(2) == held_after(5) <= 2


def test_fit_above_cap_releases_superseded_checkpoints(spark, docs):
    """The same bound above the broadcast cap (``broadcast_max_weights=0``),
    where each iteration checkpoints its parameter table and the fit
    releases the one it supersedes."""
    jsc = spark.sparkContext._jsc

    def held_after(iterations: int) -> int:
        before = set(jsc.getPersistentRDDs().keySet())
        Glove(iterations=iterations, broadcast_max_weights=0, **CFG).fit(docs)
        return len(set(jsc.getPersistentRDDs().keySet()) - before)

    assert held_after(2) == held_after(5) <= 2


def test_fit_rejects_empty_cooccurrence(spark):
    """A corpus whose vocabulary never co-occurs (six one-word docs)
    has no X cell to train on: the fit raises a ValueError, as for an
    empty vocabulary, and leaves nothing persisted behind."""
    one_word = spark.createDataFrame(
        [(d, "alpha") for d in range(6)], "doc_id long, text string"
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    with pytest.raises(ValueError, match="empty co-occurrence matrix"):
        Glove(iterations=2, **CFG).fit(one_word)
    assert set(jsc.getPersistentRDDs().keySet()) <= before


def test_broadcast_regime_iteration_jobs(spark, docs):
    """Under the broadcast cap an iteration is one Spark job: the
    collect of the symmetric gradient kernel over X; the AdaGrad step
    runs on the driver. Counted as (jobs(fit(5)) - jobs(fit(2))) / 3,
    so per-fit setup cancels."""
    sc = spark.sparkContext

    def jobs(iterations: int) -> int:
        group = f"glove_iteration_jobs_{iterations}"
        sc.setJobGroup(group, group)
        try:
            Glove(iterations=iterations, **CFG).fit(docs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert (jobs(5) - jobs(2)) / 3 == 1


def test_broadcast_fit_leaves_nothing_persisted(spark, docs):
    """Under the broadcast cap the model is built from driver arrays, so
    a fit (warm start included) unpersists X and holds no RDD after it
    returns, while the model stays readable."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    m = Glove(iterations=2, **CFG).fit(docs)
    Glove(iterations=1, **CFG).fit(docs, initial_state=m.state)
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
    assert m.vectors.count() == m.state.count() > 0


def test_fit_rejects_empty_vocabulary(spark, docs):
    """No word reaching min_count is a ValueError raised before any
    Spark state is made: nothing is left persisted."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    with pytest.raises(ValueError, match="empty vocabulary"):
        Glove(iterations=2, **{**CFG, "min_count": 10**9}).fit(docs)
    assert set(jsc.getPersistentRDDs().keySet()) <= before


def test_vocabulary_ids_match_row_number_under_ties(spark):
    """Ids are ranks in (freq desc, word) order: on a corpus where many
    words share a frequency they equal the global row_number over that
    order, the definition the DuckDB oracles use, also after max_vocab
    cuts through a tie."""
    from pyspark.sql import Window

    from spark_glove_spark.glove.trainer import GloveConfig, build_vocabulary

    words = [f"w{k:02d}" for k in range(24)]
    # frequencies 3..6: six words per frequency, in a scrambled order
    text = " ".join(w for k, w in enumerate(words) for _ in range(3 + (k * 7) % 4))
    df = spark.createDataFrame([(0, text), (1, "zz " * 2)], "doc_id long, text string")
    for max_vocab in (400_000, 9):
        cfg = GloveConfig(min_count=3, max_vocab=max_vocab)
        got = [tuple(r) for r in build_vocabulary(df, cfg).orderBy("id").collect()]
        counts = (
            df.select(F.explode(F.split("text", " ")).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
            .where(F.col("freq") >= 3)
        )
        w = Window.orderBy(F.col("freq").desc(), F.col("word"))
        want = [
            tuple(r)
            for r in counts.select(
                "word", "freq", (F.row_number().over(w) - 1).cast("long").alias("id")
            )
            .where(F.col("id") < max_vocab)
            .orderBy("id")
            .collect()
        ]
        assert got == want and len(got) == min(24, max_vocab)
