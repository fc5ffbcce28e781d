"""Streaming property tests (SURVEY.md §5.4).

Batch-equivalence is covered by the oracle harness (i1-i3, i5-i7 are
fully hash-checked there); here we test what SQL can't see: watermark
late-data semantics (I4) and session-window membership on handmade
events.
"""

from __future__ import annotations

import os
import tempfile
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from spark_glove_spark.streaming.jobs import run_stream

_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _ts(h: int, m: int = 0) -> datetime:
    return datetime(2024, 6, 1, h, m, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def replay_dir(spark):
    """Three-batch replay: fresh rows, more fresh rows, then one
    2-hour-late row. The intermediate batch matters: the watermark
    computed from a batch's max event time only takes effect two
    triggers later (measured on Spark 4.1 with availableNow), so a
    late row in the very next trigger would NOT yet be dropped."""
    base = tempfile.mkdtemp(prefix="late_replay_")
    fresh = spark.createDataFrame(
        [
            (1, _ts(10, 5), 1, "click", 1.0, "{}"),
            (2, _ts(12, 0), 1, "click", 1.0, "{}"),
        ],
        _SCHEMA,
    )
    fresh2 = spark.createDataFrame(
        [(4, _ts(12, 30), 1, "click", 1.0, "{}")], _SCHEMA
    )
    late = spark.createDataFrame(
        [(3, _ts(10, 30), 1, "click", 1.0, "{}")], _SCHEMA
    )
    fresh.coalesce(1).write.parquet(os.path.join(base, "f1"))
    fresh2.coalesce(1).write.parquet(os.path.join(base, "f2"))
    late.coalesce(1).write.parquet(os.path.join(base, "f3"))
    return base


def _windowed(spark, replay_dir, watermark: str | None):
    sdf = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(replay_dir, "*"))
    )
    if watermark:
        sdf = sdf.withWatermark("ts", watermark)
    agg = sdf.groupBy(F.window("ts", "1 hour")).agg(F.count(F.lit(1)).alias("n"))
    mode = "append" if watermark else "complete"
    out = run_stream(agg, mode)
    return {
        (r["window"].start.hour, r["n"]) for r in out.collect()
    }


def test_watermark_drops_late_row(spark, replay_dir):
    # with a 10-min watermark, the 10:30 row arriving after the 12:00
    # row is behind the watermark: the 10:00 window stays at n=1
    # (append mode emits only finalized windows; 12:00 never finalizes)
    got = _windowed(spark, replay_dir, "10 minutes")
    assert got == {(10, 1)}


def test_no_watermark_keeps_late_row(spark, replay_dir):
    # without a watermark (complete mode) the late row lands in its
    # window: 10:00 has n=2
    got = _windowed(spark, replay_dir, None)
    assert got == {(10, 2), (12, 2)}


def test_session_window_membership(spark):
    # gaps > 30 min split sessions: 9:00, 9:20, 9:40 are one session;
    # 11:00 starts another
    df = spark.createDataFrame(
        [
            (1, _ts(9, 0), 7, "click", 1.0, "{}"),
            (2, _ts(9, 20), 7, "click", 1.0, "{}"),
            (3, _ts(9, 40), 7, "click", 1.0, "{}"),
            (4, _ts(11, 0), 7, "click", 1.0, "{}"),
        ],
        _SCHEMA,
    )
    base = tempfile.mkdtemp(prefix="sess_")
    df.coalesce(1).write.parquet(os.path.join(base, "f1"))
    sdf = spark.readStream.schema(_SCHEMA).parquet(os.path.join(base, "*"))
    agg = sdf.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    out = run_stream(agg, "complete")
    sessions = {(r["session_window"].start.hour, r["n"]) for r in out.collect()}
    assert sessions == {(9, 3), (11, 1)}


def test_foreach_batch_delivers_all_microbatches(spark, tmp_path):
    """A6: foreachBatch sees every micro-batch exactly once; batch
    row-counts sum to the source total."""
    import os

    from spark_glove_spark.sources import table
    from spark_glove_spark.streaming.jobs import (
        run_stream_foreach_batch,
        stream_events,
    )

    e = table(spark, "/root/testdata/sf0.001", "events")
    base = str(tmp_path / "replay")
    for part in range(3):
        e.where(F.pmod("event_id", F.lit(3)) == part).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(base, f"f{part}"))
    sdf = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(base, "*"))
    )
    seen: list[tuple[int, int]] = []
    run_stream_foreach_batch(
        sdf, lambda bdf, epoch: seen.append((epoch, bdf.count())), "append"
    )
    assert len(seen) >= 3, f"expected >=3 micro-batches, saw {seen}"
    assert sum(n for _, n in seen) == e.count()
    assert len({ep for ep, _ in seen}) == len(seen)  # distinct epochs


def test_i4_declared_query_is_self_evidencing(spark):
    """The declared i4 query emits one row proving BOTH directions:
    closed windows were emitted (pipeline + watermark ran) and the
    late sentinel was dropped (not merely filtered out of the
    output)."""
    from spark_glove_spark import api

    row = api.queries()["i4_watermark_late_drop"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(row) == 1
    assert row[0]["emitted_windows"] > 0
    assert row[0]["late_probe_rows"] == 0


def test_i15_ttl_reset_and_timeout_removal(spark, tmp_path):
    """i15's TTL machinery, driven deterministically (VERDICT r4 item
    8 adapted — PLANS.md 'Environment limits'): a 1.2 s settle sleep
    per invocation guarantees the 700 ms TTL elapses between two
    replayed micro-batches, so a user revisited after the TTL is
    RESET (counts restart), and a user that never returns has its
    state REMOVED by the registered ProcessingTimeTimeout (the drain
    spins until the timeout fires, then terminates)."""
    import time

    from spark_glove_spark.streaming.queries import stateful_ttl_stream

    src = str(tmp_path / "f")
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    f1 = spark.createDataFrame(
        [
            (1, ts, 10, "click", 1.0, "{}"),
            (2, ts, 10, "click", 2.0, "{}"),
            (3, ts, 10, "click", 3.0, "{}"),
            (4, ts, 20, "view", 5.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    f1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(0.1)  # distinct mod times -> deterministic file order
    f2 = spark.createDataFrame(
        [
            (5, ts, 10, "click", 10.0, "{}"),
            (6, ts, 10, "click", 20.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    f2.coalesce(1).write.mode("append").parquet(src)

    out = stateful_ttl_stream(
        spark,
        sf_dir="",  # unused with src_dir
        ttl_ms=700,
        settle_s=1.2,
        src_dir=src,
        register_timeout=True,
    ).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    # user 10: batch1 folds 3 events; batch2 arrives > TTL later ->
    # RESET, so its emission counts only batch2's 2 events
    u10 = sorted(by_user[10], key=lambda r: r["emit_wall_ms"])
    assert [r["n_events"] for r in u10] == [3, 2]
    assert u10[0]["total_value"] == 6.0
    assert u10[1]["total_value"] == 30.0
    # user 20: one batch, then silence -> ProcessingTimeTimeout fired
    # and removed the state WITHOUT emitting (remove path yields
    # nothing), so exactly one emission exists
    assert [r["n_events"] for r in by_user[20]] == [1]


# --- round 10: exactly-once epoch commits in the curate capstone ------------


def test_streaming_curate_epoch_redelivery_noops(spark, tmp_path):
    """VERDICT r9 item 4: pipeline_streaming_curate's per-epoch writes
    all carry SetTransaction watermarks, so a foreachBatch RE-DELIVERY
    of a completed epoch (the at-least-once restart contract) must
    no-op every table — zero new versions, bit-identical contents —
    for in-order replays AND a stale out-of-order replay of an
    earlier epoch."""
    from spark_glove_spark.sources import txlog
    from spark_glove_spark.streaming.queries import (
        _curate_epoch,
        _curate_tables_init,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tables = _curate_tables_init(spark, d, str(tmp_path))
    ids = sorted(r["doc_id"] for r in d.select("doc_id").collect())
    mid = ids[len(ids) // 2]
    b0 = d.where(F.col("doc_id") < mid)
    b1 = d.where(F.col("doc_id") >= mid)
    _curate_epoch(spark, tables, b0, 0)
    _curate_epoch(spark, tables, b1, 1)

    def versions():
        return {k: txlog.current_version(p) for k, p in tables.items()}

    def contents():
        return {
            k: sorted(
                tuple(row) for row in txlog.read(spark, p).collect()
            )
            for k, p in tables.items()
        }

    vers, snap = versions(), contents()
    # the run must have actually committed work, or the no-op
    # assertions below are vacuous
    assert vers["cur"] >= 1 and vers["bk"] >= 2, vers
    # in-order re-delivery of the last epoch
    _curate_epoch(spark, tables, b1, 1)
    assert versions() == vers, "re-delivered epoch created new versions"
    assert contents() == snap
    # stale out-of-order replay of an EARLIER epoch
    _curate_epoch(spark, tables, b0, 0)
    assert versions() == vers, "stale epoch replay created new versions"
    assert contents() == snap
    # watermarks sit at the last applied epoch per writer app — the
    # CURATED sink included (ADVICE r10: its idempotence was pinned
    # only indirectly via version counts)
    assert txlog.last_txn_version(tables["bk"], "psc-buckets") == 1
    assert txlog.last_txn_version(tables["sh"], "psc-shingles") == 1
    assert txlog.last_txn_version(tables["mon"], "psc-monitor") == 1
    assert txlog.last_txn_version(tables["cur"], "psc-curated") == 1


def test_streaming_curate_invariants(spark):
    """The audit reads moved OFF pipeline_streaming_curate's timed
    path (VERDICT r10 item 3) live here: version-prefix monotonicity
    of the curated table and monitor == curated rollup. The in-body
    raises inside _streaming_curate(check_invariants=True) do the
    checking; this test exists to RUN them every pytest sweep (the
    declared/benched query keeps only the cheap replay-collapse
    metadata tooth; result values remain oracle-checked either way)."""
    from spark_glove_spark.streaming.queries import _streaming_curate

    out = _streaming_curate(
        spark, "/root/testdata/sf0.001", check_invariants=True
    ).collect()
    assert len(out) > 0


def test_streaming_curate_releases_its_replay_dir(spark, tmp_path, monkeypatch):
    """pipeline_streaming_curate's state dir is released at the next
    declared query (registry.defer_cleanup): two runs leave at most
    one psc_replay_* dir behind, and none once the deferred cleanups
    drain."""
    import glob
    import tempfile

    from conftest import SF_SMOKE

    from spark_glove_spark import api
    from spark_glove_spark.registry import drain_deferred_unpersist

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    curate = api.REGISTRY["pipeline_streaming_curate"].fn
    for _ in range(2):
        assert curate(spark, SF_SMOKE).collect()
        assert len(glob.glob(str(tmp_path / "psc_replay_*"))) <= 1
    drain_deferred_unpersist()
    assert glob.glob(str(tmp_path / "psc_replay_*")) == []


def test_streaming_ann_ingest_equals_batch_index(spark):
    """Pytest guard for the planlint-skipped i23: the probe results
    served from the STREAMED accumulation must equal the in-memory
    batch ivf_knn at the same seed/corpus exactly — same frozen
    centroids, same assignment expression, same scoring — so arrival
    order, batching, and the idempotent epoch commits are all provably
    invisible to the served results."""
    from spark_glove_spark import api
    from spark_glove_spark.operators.ann import ivf_knn

    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r["probe_id"], r["vec_id"], r["cos"])
        for r in api.REGISTRY["i23_streaming_ann_ingest"]
        .fn(spark, sf)
        .collect()
    )
    e = spark.read.parquet(sf + "/embeddings.parquet")
    probes = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    want = sorted(
        (r["probe_id"], r["vec_id"], r["cos"])
        for r in ivf_knn(e, probes, k=10, n_lists=10, n_probe=3).collect()
    )
    assert got == want


def test_rag_chunk_code_ingest_streaming_twin(spark, tmp_path, monkeypatch):
    """pipeline_rag_serving's streaming twin tooth, on the registered
    i27 lane: documents replayed as a file stream, each micro-batch
    chunked + BQ-coded and appended to a txlog code table with
    IDEMPOTENT epoch commits, must accumulate EXACTLY the batch lane's
    (cid, code) multiset — the chunking windows are per-doc and the
    code planes are stateless, so streamed index ingest is an equality,
    not an approximation (the i24 discipline applied to the RAG chunk
    space). A re-delivered final epoch must no-op."""
    import glob
    import tempfile

    from conftest import SF_SMOKE as sf

    from spark_glove_spark import api
    from spark_glove_spark.operators.pipeline import (
        _rag_chunk_frame,
        _rag_code_col,
        _rag_ingest_epoch,
        _rag_segch,
    )
    from spark_glove_spark.sources import txlog

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    streamed = sorted(
        (r["cid"], r["code"])
        for r in api.REGISTRY["i27_streaming_rag_ingest"].fn(spark, sf).collect()
    )
    (codes_path,) = glob.glob(str(tmp_path / "sgs_rag_ingest_*" / "codes"))
    # epoch commits on top of the pre-created empty version 0
    vers = txlog.current_version(codes_path)
    assert vers >= 2, f"expected multiple micro-batches, saw {vers}"

    d = spark.read.parquet(sf + "/documents.parquet")
    batch = sorted(
        (r["cid"], r["code"])
        for r in _rag_chunk_frame(_rag_segch(d))
        .select("cid", _rag_code_col().alias("code"))
        .collect()
    )
    assert streamed == batch, "streamed code table diverged from batch lane"

    # re-delivery of the last epoch must no-op (exactly-once contract)
    last = txlog.last_txn_version(codes_path, "rag-codes")
    _rag_ingest_epoch(codes_path, d, last)
    assert txlog.current_version(codes_path) == vers
