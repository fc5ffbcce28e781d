"""The IVF steps every lane shares: each probe's lists are picked on
the driver (centroids read through pyarrow, one collect of the probes,
the ranking in numpy), so a probe call runs few Spark jobs, leaks no
checkpoint, and still ranks lists exactly as a Spark window over the
centroid literals does; one Lloyd update rule; one assign, whose width
switch the in-memory and persisted paths take alike."""

from __future__ import annotations

import os
import re
import uuid

import numpy as np
import pyarrow.parquet as pq
import pytest
from conftest import SF_SMOKE as SF
from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_glove_spark.functions.vector import dot, lit_double_array
from spark_glove_spark.operators.ann import (
    _IVF_LITERAL_MAX,
    _centroid_table,
    _ivf_n_probe,
    _lloyd,
    _nearest_list_expr,
    _nearest_lists_np,
    _read_centroids,
    ivf_build_index,
    ivf_knn,
    ivf_probe_index,
)

SF_WIDE = os.path.join(os.path.dirname(SF), "sf0.1")

# Crafted near-ties, dim 8. Probe 0's products against list 0 are
# (1e16, 1, -1e16, 1, 0, 0, 0, 0): the in-order fold gives 1, numpy's
# 8-way pairwise sum gives 0 and the exact sum is 2, so the three
# rankings of lists 0-2 all differ. Lists 3 and 5 are identical and
# nearest to probe 1: the exact tie goes to the lower list_id.
_Q = np.array(
    [
        [1e16, 1.0, -1e16, 1.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0],
    ]
)
_TIE = [0.0] * 7 + [60.0]
_CV = np.array([[1.0] * 8, [0.0] * 8, [0.0] * 8, _TIE, [0.0] * 8, _TIE])
_CNORM = np.array([0.0, -1.0, -3.0, 100.0, 50.0, 100.0])
# cdist, probe 0: [-2, -1, -3, 100, 50, 100]
# cdist, probe 1: [-2, -1, -3, -20, 50, -20]
_ORDER = [[2, 0, 1, 4, 3, 5], [3, 5, 2, 0, 1, 4]]


def test_nearest_lists_np_folds_in_order_and_breaks_ties_low():
    """No Spark session: the driver-side ranking is the JVM's
    left-to-right double fold, not a pairwise or BLAS sum."""
    got = _nearest_lists_np(_Q, _CV, _CNORM, n_probe=6)
    assert got.tolist() == _ORDER
    assert _nearest_lists_np(_Q, _CV, _CNORM, n_probe=1).tolist() == [[2], [3]]
    # the crafted vector really separates the fold from a pairwise sum
    pairwise = _CNORM - 2.0 * (_Q[:, None, :] * _CV[None, :, :]).sum(axis=2)
    assert np.argsort(pairwise[0], kind="stable").tolist() != _ORDER[0]


def _spark_probe_lists(probes, cents, n_probe: int):
    """The Spark reference ranking: probe x centroid literal exploded,
    ``cdist = cnorm - 2·dot(q, cv)``, a window per probe ordered by
    (cdist, list_id), the first n_probe rows kept."""
    pc = probes.select(
        "probe_id", F.col("embedding").alias("q"), F.explode(cents).alias("c")
    ).select(
        "probe_id",
        F.col("c.list_id").alias("list_id"),
        (F.col("c.cnorm") - 2 * dot(F.col("q"), F.col("c.cv"))).alias("cdist"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cdist").asc(), "list_id")
    return (
        pc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n_probe)
        .select("probe_id", "list_id")
    )


def test_nearest_lists_np_equals_spark_probe_lists(spark):
    """The same crafted near-ties through the Spark window ranking; the
    top-1 list is also the assign expression's choice."""
    probes = spark.createDataFrame(
        [(i, [float(v) for v in q]) for i, q in enumerate(_Q)],
        "probe_id int, embedding array<double>",
    )
    # built by hand: the crafted cnorms are not the centroids' norms
    cents = F.array(
        *[
            F.struct(
                F.lit(i).alias("list_id"),
                lit_double_array(c).alias("cv"),
                F.lit(float(n)).alias("cnorm"),
            )
            for i, (c, n) in enumerate(zip(_CV, _CNORM))
        ]
    )
    for n in range(1, 7):
        rows = _spark_probe_lists(probes, cents, n).collect()
        got = {p: set() for p in range(len(_Q))}
        for r in rows:
            got[r["probe_id"]].add(r["list_id"])
        want = _nearest_lists_np(_Q, _CV, _CNORM, n)
        assert got == {p: set(want[p].tolist()) for p in range(len(_Q))}, n
    top1 = probes.select("probe_id", _nearest_list_expr(cents).alias("list_id"))
    want = _nearest_lists_np(_Q, _CV, _CNORM, 1)
    assert {r["probe_id"]: r["list_id"] for r in top1.collect()} == {
        p: int(want[p][0]) for p in range(len(_Q))
    }


def _lloyd_per_centre(sample, n_lists: int, max_iter: int, seed: int):
    """The per-centre Lloyd update the bincount rule replaced: one mask
    and one ``mean`` per centre, an empty cell re-seeded from the
    farthest point, ``moved`` over the occupied cells."""
    rng = np.random.default_rng(seed)
    n = len(sample)
    centers = sample[rng.choice(n, size=min(n_lists, n), replace=False)].copy()
    for _ in range(max_iter):
        d = (
            (sample * sample).sum(axis=1)[:, None]
            - 2.0 * sample @ centers.T
            + (centers * centers).sum(axis=1)[None, :]
        )
        assign = d.argmin(axis=1)
        moved = 0.0
        for c in range(len(centers)):
            members = sample[assign == c]
            if len(members) == 0:
                centers[c] = sample[d.min(axis=1).argmax()]
                continue
            new = members.mean(axis=0)
            moved = max(moved, float(((new - centers[c]) ** 2).sum()))
            centers[c] = new
        if moved < 1e-12:
            break
    return centers


@pytest.mark.parametrize("dup", [False, True])
def test_lloyd_equals_per_centre_loop(dup):
    """Bit-equal centres across widths on both sides of the literal
    cap and dims 4/16/64. ``dup`` draws from 5 distinct rows, so the
    initial centres repeat and most cells empty and are re-seeded."""
    rng = np.random.default_rng(7)
    emptied = 0
    for k in (2, 5, 10, 33, 64, 80):
        for dim in (4, 16, 64):
            if dup:
                sample = rng.normal(size=(5, dim))[rng.integers(0, 5, 400)]
            else:
                sample = rng.normal(size=(400, dim))
            got = _lloyd(sample, k, 10, seed=k + dim)
            want = _lloyd_per_centre(sample, k, 10, seed=k + dim)
            assert got.tobytes() == want.tobytes(), (k, dim)
            emptied += len(np.unique(got, axis=0)) < k
    if dup:  # the re-seed branch really ran
        assert emptied


@pytest.fixture(scope="module")
def index10(spark, tmp_path_factory):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path_factory.mktemp("ivf10"))
    ivf_build_index(e, path, n_lists=10, seed=42)
    probes = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return path, probes


def test_stored_cnorm_equals_recomputed(index10):
    """The assign recomputes ‖c‖² from the stored centroid vectors; the
    stored cnorm column must be that value bit for bit, so an assign
    against a read-back quantizer (the drift monitor's) equals one
    against the quantizer the build fitted."""
    list_ids, cv, cnorm = _read_centroids(index10[0])
    again = _centroid_table(cv)
    assert again[0].tolist() == list_ids.tolist()
    assert again[2].tobytes() == cnorm.tobytes()
    assert [float((c * c).sum()) for c in cv] == cnorm.tolist()


def test_probe_runs_few_jobs_and_leaks_no_checkpoint(spark, index10):
    path, probes = index10
    sc = spark.sparkContext

    def persisted():
        return set(sc._jsc.getPersistentRDDs().keySet())

    before = persisted()
    group = f"ivf-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "ivf_probe_index job count")
    try:
        rows = ivf_probe_index(spark, path, probes, k=10, n_probe=3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 5, jobs
    # new ids, not the count: the context cleaner may drop an older
    # RDD mid-call
    assert persisted() - before == set()


def test_probe_empty_probe_set_returns_empty_frame(spark, index10):
    path, probes = index10
    full = ivf_probe_index(spark, path, probes, k=10, n_probe=3)
    empty = ivf_probe_index(spark, path, probes.limit(0), k=10, n_probe=3)
    assert empty.collect() == []
    assert empty.dtypes == full.dtypes
    assert empty.columns == ["probe_id", "vec_id", "label", "cos"]


def test_unpinned_n_probe_rule(spark, tmp_path):
    """~sqrt(n_lists) with a floor of 2: an 8-list index probes 3 lists,
    and the scan's partition predicate carries exactly those 3."""
    assert [_ivf_n_probe(n) for n in (4, 8, 10, 80, 512)] == [2, 3, 3, 9, 23]
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    ivf_build_index(e, str(tmp_path), n_lists=8, seed=42)
    one = e.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    got = ivf_probe_index(spark, str(tmp_path), one, k=3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters", 1)[1][:300]
    wanted = re.search(r"list_id#\d+ IN \(([^)]*)\)", pf)
    assert wanted, pf
    assert len(wanted.group(1).split(",")) == 3, pf


def test_wide_index_probe_reads_only_its_nearest_lists(spark, tmp_path):
    """An index wider than the codegen literal cap (80 lists over
    sf0.1's 2,000 rows): every returned row lies in one of its probe's
    n_probe nearest lists, and every probe gets k rows."""
    e = spark.read.parquet(f"{SF_WIDE}/embeddings.parquet")
    path = str(tmp_path)
    ivf_build_index(e, path, n_lists=80, seed=42)
    probes = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    rows = ivf_probe_index(spark, path, probes, k=10).collect()

    list_ids, cv, _ = _read_centroids(path)
    assert len(list_ids) == 80
    n_probe = _ivf_n_probe(80)
    lists = pq.read_table(os.path.join(path, "lists"), columns=["vec_id", "list_id"])
    list_of = dict(
        zip(lists.column("vec_id").to_pylist(), lists.column("list_id").to_pylist())
    )
    pt = probes.toArrow()
    Q = np.array(pt.column("embedding").to_pylist(), dtype=np.float64)
    dist = ((Q[:, None, :] - cv[None, :, :]) ** 2).sum(axis=2)
    near = np.argsort(dist, axis=1, kind="stable")[:, :n_probe]
    nearest = {
        p: {int(list_ids[i]) for i in near[r]}
        for r, p in enumerate(pt.column("probe_id").to_pylist())
    }
    per_probe: dict[int, int] = {}
    for r in rows:
        assert list_of[r["vec_id"]] in nearest[r["probe_id"]], r
        per_probe[r["probe_id"]] = per_probe.get(r["probe_id"], 0) + 1
    assert per_probe == {p: 10 for p in nearest}


def test_wide_inmemory_ivf_uses_numpy_assign_and_equals_index(spark, tmp_path):
    """Above the literal cap ``ivf_knn`` assigns through the numpy
    kernel, as the build does, and returns the rows an index built at
    the same seed serves."""
    e = spark.read.parquet(f"{SF_WIDE}/embeddings.parquet")
    probes = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    n_lists = 80
    assert n_lists > _IVF_LITERAL_MAX
    mem = ivf_knn(e, probes, k=10, n_lists=n_lists, n_probe=4)
    assert "MapInPandas" in mem._jdf.queryExecution().executedPlan().toString()
    ivf_build_index(e, str(tmp_path), n_lists=n_lists, seed=42)
    got = ivf_probe_index(spark, str(tmp_path), probes, k=10, n_probe=4)
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(mem) == key(got)
