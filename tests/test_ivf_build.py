"""The IVF and IVF-PQ index builds: Spark runs only the training-sample
collect and the partitioned ``lists/`` write, the small centroid and
codebook tables are written by the driver with pyarrow, and those
tables keep the schema, values and overwrite behaviour of a Spark
write."""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow.parquet as pq
import pytest
from conftest import SF_SMOKE as SF
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from spark_glove_spark.operators import ann
from spark_glove_spark.operators.ann import (
    _read_centroids,
    _training_sample,
    ivf_build_index,
    ivf_list_schedule,
    ivfpq_build_index,
)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"ivf-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "index build job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "build",
    [
        lambda e, p: ivf_build_index(e, p, n_lists=10),
        lambda e, p: ivf_build_index(e, p),
        lambda e, p: ivfpq_build_index(e, p),
    ],
    ids=["ivf_pinned", "ivf_unpinned", "ivfpq"],
)
def test_build_runs_at_most_two_jobs(spark, emb, tmp_path, build):
    """One sample collect and one ``lists/`` write; the centroid and
    codebook tables and the unpinned width cost no job."""
    assert _jobs(spark, lambda: build(emb, str(tmp_path))) <= 2


def test_training_sample_equals_row_collect(emb):
    """Same float64 bits, same rows, same order as a Row collect."""
    for seed in (7, 42):
        old = np.stack(
            [
                r[0]
                for r in emb.select("embedding")
                .orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)))
                .limit(ann._SAMPLE_CAP)
                .collect()
            ]
        ).astype(np.float64)
        new = _training_sample(emb, seed)
        assert new.dtype == np.float64
        assert np.array_equal(new, old), seed
    # array_equal compares row by row, and the seed does move the rows
    assert not np.array_equal(_training_sample(emb, 7), _training_sample(emb, 42))


def test_unpinned_width_counts_only_a_full_sample(emb, tmp_path, monkeypatch):
    """Below the cap the sample is the corpus and no count() runs; a
    capped sample still counts the corpus for the width."""
    counted = []
    frame_type = type(emb)  # the classic DataFrame, which defines count
    real_count = frame_type.count

    def count(self):
        counted.append(self)
        return real_count(self)

    monkeypatch.setattr(frame_type, "count", count)
    ivf_build_index(emb, str(tmp_path / "a"))
    assert counted == []
    n_rows = real_count(emb)
    monkeypatch.setattr(ann, "_SAMPLE_CAP", n_rows // 5)
    ivf_build_index(emb, str(tmp_path / "b"))
    assert len(counted) == 1 and counted[0] is emb
    want = ivf_list_schedule(n_rows)[0]
    assert len(_read_centroids(str(tmp_path / "b"))[0]) == want


def test_driver_tables_keep_the_spark_schema(spark, emb, tmp_path):
    ivf = str(tmp_path / "ivf")
    ivf_build_index(emb, ivf, n_lists=10)
    pq_index = str(tmp_path / "ivfpq")
    ivfpq_build_index(emb, pq_index)
    cents = StructType.fromDDL("list_id int, cv array<double>, cnorm double")
    books = StructType.fromDDL("s int, code int, cv array<double>")
    assert spark.read.parquet(os.path.join(ivf, "centroids")).schema == cents
    assert spark.read.parquet(os.path.join(pq_index, "centroids")).schema == cents
    assert spark.read.parquet(os.path.join(pq_index, "codebooks")).schema == books
    rows = spark.read.parquet(os.path.join(pq_index, "codebooks")).collect()
    assert sorted((r["s"], r["code"]) for r in rows) == [
        (s, c) for s in range(8) for c in range(16)
    ]


def test_rebuild_replaces_the_centroid_table(emb, tmp_path, monkeypatch):
    """A narrower rebuild leaves no stale row or file, and a build that
    fails before the swap leaves the previous table readable."""
    path = str(tmp_path)
    ivf_build_index(emb, path, n_lists=10)
    ivf_build_index(emb, path, n_lists=4)
    list_ids, cv, cnorm = _read_centroids(path)
    assert list_ids.tolist() == [0, 1, 2, 3]
    assert os.listdir(os.path.join(path, "centroids")) == ["part-00000.parquet"]
    assert sorted(os.listdir(path)) == ["centroids", "lists"]

    def fail(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", fail)
    with pytest.raises(OSError, match="disk full"):
        ivf_build_index(emb, path, n_lists=6)
    kept_ids, kept_cv, kept_cnorm = _read_centroids(path)
    assert kept_ids.tolist() == [0, 1, 2, 3]
    assert np.array_equal(kept_cv, cv) and np.array_equal(kept_cnorm, cnorm)
    assert sorted(os.listdir(path)) == ["centroids", "lists"]


def test_failed_rebuild_keeps_the_whole_index(emb, tmp_path, monkeypatch):
    """A rebuild that fails in the centroid write, after Spark wrote
    the new ``lists/``, leaves the previous index whole: its centroids
    and only its list directories, with no temp directory beside it."""
    path = str(tmp_path / "index")
    ivf_build_index(emb, path, n_lists=4)

    def fail(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", fail)
    with pytest.raises(OSError, match="disk full"):
        ivf_build_index(emb, path, n_lists=6)
    assert len(_read_centroids(path)[0]) == 4
    lists = os.listdir(os.path.join(path, "lists"))
    assert sorted(d for d in lists if d.startswith("list_id=")) == [
        f"list_id={k}" for k in range(4)
    ]
    assert os.listdir(tmp_path) == ["index"]
