"""Hand-computed co-occurrence math (SURVEY.md §5.3.1).

A 5-token doc with window=2 — every 1/d weight checked by hand.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_glove_spark.glove.trainer import (
    GloveConfig,
    build_cooccurrence,
    build_vocabulary,
)
from spark_glove_spark.operators.cooccurrence import (
    cooccurrence_counts_by_distance,
    cooccurrence_matrix,
    glove_weight,
)


@pytest.fixture(scope="module")
def tiny_docs(spark):
    return spark.createDataFrame(
        [(1, "a b c a b")], "doc_id long, text string"
    )


def test_window2_weights_by_hand(spark, tiny_docs):
    # tokens: a(0) b(1) c(2) a(3) b(4); window=2 forward pairs:
    # (a,b,d1) (a,c,d2) (b,c,d1) (b,a,d2) (c,a,d1) (c,b,d2) (a,b,d1)
    # canonical (min,max): X[a,b] = 1 + 1/2 + 1 = 2.5; X[a,c] = 1/2 + 1 = 1.5
    # X[b,c] = 1 + 1/2 = 1.5
    rows = {
        (r.wi, r.wj): r.x
        for r in cooccurrence_matrix(tiny_docs, window=2).collect()
    }
    assert rows == {("a", "b"): 2.5, ("a", "c"): 1.5, ("b", "c"): 1.5}


def test_counts_by_distance(spark, tiny_docs):
    rows = {
        (r.wi, r.wj, r.d): r.cnt
        for r in cooccurrence_counts_by_distance(tiny_docs, window=2).collect()
    }
    assert rows == {
        ("a", "b", 1): 2,
        ("a", "b", 2): 1,
        ("a", "c", 1): 1,
        ("a", "c", 2): 1,
        ("b", "c", 1): 1,
        ("b", "c", 2): 1,
    }


def test_window_larger_than_doc(spark):
    df = spark.createDataFrame([(1, "x y")], "doc_id long, text string")
    rows = cooccurrence_matrix(df, window=10).collect()
    assert len(rows) == 1 and rows[0].x == 1.0


def test_single_token_doc_empty(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    assert cooccurrence_matrix(df, window=5).count() == 0


def test_glove_weight_boundary(spark):
    # f(99) = (0.99)^0.75 < 1; f(100) = 1; f(101) capped at 1 (eq. 9)
    df = spark.range(1).select(
        glove_weight(F.lit(99.0)).alias("f99"),
        glove_weight(F.lit(100.0)).alias("f100"),
        glove_weight(F.lit(101.0)).alias("f101"),
    )
    r = df.collect()[0]
    assert abs(r.f99 - 0.99**0.75) < 1e-12
    assert r.f100 == 1.0 and r.f101 == 1.0


def test_random_corpus_matches_bruteforce(spark):
    """Randomized cross-check: the expression-form pipeline must equal
    a brute-force pure-Python reference on an arbitrary corpus (30
    docs, ragged lengths, repeated tokens), for several windows."""
    import random
    from collections import defaultdict

    rng = random.Random(3)
    docs = [
        (i, " ".join(rng.choice("abcdef") for _ in range(rng.randint(1, 40))))
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for window in (1, 3, 7):
        expected: dict = defaultdict(float)
        for _, text in docs:
            toks = text.split(" ")
            for p in range(len(toks)):
                for q in range(p + 1, min(p + window, len(toks) - 1) + 1):
                    key = tuple(sorted((toks[p], toks[q])))
                    expected[key] += 1.0 / (q - p)
        got = {
            (r.wi, r.wj): r.x
            for r in cooccurrence_matrix(df, window=window).collect()
        }
        assert set(got) == set(expected), f"pair sets differ at window={window}"
        for k, v in expected.items():
            assert abs(got[k] - v) < 1e-9, f"{k}@w{window}: {got[k]} vs {v}"


def test_degenerate_documents_are_clean(spark):
    """Null / empty / whitespace-only docs must contribute nothing —
    no '' tokens in the pair stream (real-corpus robustness; the
    fixture corpus never exercises this)."""
    df = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, None), (4, "   "), (5, " a  b ")],
        "doc_id long, text string",
    )
    rows = {(r.wi, r.wj): r.x for r in cooccurrence_matrix(df, window=2).collect()}
    assert all(w != "" for pair in rows for w in pair), f"empty tokens: {rows}"
    # doc 5 collapses to [a, b] -> one d=1 pair on top of doc 1's pairs
    assert rows[("a", "b")] == 2.0


def test_symmetric_x_generates_pairs_once(spark, tiny_docs):
    """GloVe's symmetric X mirrors each aggregated cell in one explode,
    so its plan tokenizes, generates forward pairs and shuffles them
    by pair key once, not once per mirrored branch."""
    cfg = GloveConfig(window=2, min_count=1)
    x = build_cooccurrence(tiny_docs, build_vocabulary(tiny_docs, cfg), cfg)
    plan = x._jdf.queryExecution().executedPlan().toString().splitlines()
    generates = [line for line in plan if "Generate " in line]
    assert sum("posexplode(" in line for line in generates) == 1, plan
    assert sum("element_at(tokens" in line for line in generates) == 1, plan
    assert sum("Exchange hashpartitioning(wi" in line for line in plan) == 1, plan
