"""Tests of the benchmark's generators and of BENCHMARK.json against the
runner. Run from the checkout root:

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import generate  # noqa: E402


def _bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def test_corpus_is_a_function_of_the_seed(tmp_path):
    a = generate.write_corpus(str(tmp_path / "a"), 7, 300, 200)
    b = generate.write_corpus(str(tmp_path / "b"), 7, 300, 200)
    c = generate.write_corpus(str(tmp_path / "c"), 8, 300, 200)
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(c)


def test_vectors_are_a_function_of_the_seed_and_unit_norm(tmp_path):
    a = generate.write_vectors(str(tmp_path / "a"), 7, 500, 16, 8, 1.5)
    b = generate.write_vectors(str(tmp_path / "b"), 7, 500, 16, 8, 1.5)
    c = generate.write_vectors(str(tmp_path / "c"), 8, 500, 16, 8, 1.5)
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(c)
    v, _ = generate.vectors(7, 500, 16, 8, 1.5)
    np.testing.assert_allclose(np.linalg.norm(v, axis=1), 1.0, atol=1e-6)


def test_corpus_reaches_every_curate_status(tmp_path):
    from spark_glove_spark.operators import pipeline  # noqa: F401 (registers it)
    from spark_glove_spark.registry import oracle_sql

    path = generate.write_corpus(str(tmp_path), 3, 600, 300)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    rows = con.execute(oracle_sql()["pipeline_curate_corpus"]).fetchall()
    assert {r[1] for r in rows} == {"kept", "quality_fail", "exact_dup", "near_dup"}


def test_benchmark_json_matches_the_runner():
    import run
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [
        (name, unit) for name, unit, _, _ in run.PER_LAYER
    ]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
