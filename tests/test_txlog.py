"""Teeth for the txlog table format (sources/txlog.py): snapshot
isolation, time travel, optimistic-concurrency conflicts, and data-
file immutability — the properties the a18 oracle check can't state
directly."""

from __future__ import annotations

import glob
import os

import pytest

from spark_glove_spark.sources import txlog


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_create_read_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a"), (2, "b")]), path)
    got = sorted(txlog.read(spark, path).collect())
    assert [(r["k"], r["v"]) for r in got] == [(1, "a"), (2, "b")]
    assert txlog.current_version(path) == 0


def test_time_travel_reads_old_version_after_later_commits(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]), path)
    txlog.overwrite(_df(spark, [(9, "z")]), path)
    txlog.append(_df(spark, [(10, "y")]), path)
    assert txlog.current_version(path) == 2
    v0 = [(r["k"], r["v"]) for r in txlog.read(spark, path, version=0).collect()]
    assert v0 == [(1, "a")], "v0 must be untouched by overwrite+append"
    v2 = sorted(
        (r["k"], r["v"]) for r in txlog.read(spark, path, version=2).collect()
    )
    assert v2 == [(9, "z"), (10, "y")]


def test_snapshot_resolved_file_list_is_immune_to_later_commits(spark, tmp_path):
    """The isolation mechanism itself: a reader that resolved its file
    list keeps reading the same bytes no matter what commits after."""
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a"), (2, "b")]), path)
    files_before = txlog.snapshot_files(path, 0)
    txlog.overwrite(_df(spark, [(3, "c")]), path)
    # the v0 file list is byte-identical and every file still exists
    assert txlog.snapshot_files(path, 0) == files_before
    for f in files_before:
        assert os.path.exists(os.path.join(path, f)), "data files are immutable"


def test_concurrent_writer_conflict(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]), path)
    # two writers both target version 1: the second must lose
    files_a, stats_a = txlog._write_data(_df(spark, [(2, "b")]), path)
    files_b, _stats_b = txlog._write_data(_df(spark, [(3, "c")]), path)
    txlog.commit(path, files_a, [], expected_version=0, stats=stats_a)
    with pytest.raises(txlog.TxLogConflict):
        txlog.commit(path, files_b, [], expected_version=0)
    # the winner's row is visible; the loser's orphan files are inert
    got = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert got == [1, 2]


def test_create_refuses_existing_table(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]), path)
    with pytest.raises(FileExistsError):
        txlog.create(_df(spark, [(2, "b")]), path)


def test_read_unknown_version_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]), path)
    with pytest.raises(ValueError):
        txlog.read(spark, path, version=5)


def test_log_entries_record_operations(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]), path)
    txlog.append(_df(spark, [(2, "b")]), path)
    txlog.overwrite(_df(spark, [(3, "c")]), path)
    ops = [e["operation"] for e in txlog.read_log(path)]
    assert ops == ["create", "append", "overwrite"]
    # overwrite removed exactly the files the first two commits added
    log = txlog.read_log(path)
    assert sorted(log[2]["removes"]) == sorted(log[0]["adds"] + log[1]["adds"])


def test_file_skipping_prunes_by_footer_stats(spark, tmp_path):
    """The data-skipping index: three appends with disjoint key ranges
    -> a range predicate keeps exactly one file group, and the
    predicate read returns the same rows as a full-scan filter."""
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(i, "a") for i in range(0, 10)]).coalesce(1), path)
    txlog.append(_df(spark, [(i, "b") for i in range(100, 110)]).coalesce(1), path)
    txlog.append(_df(spark, [(i, "c") for i in range(200, 210)]).coalesce(1), path)
    kept, total = txlog.prune_files(path, "k", 100, 109)
    assert total == 3 and len(kept) == 1, (kept, total)
    got = sorted(
        r["k"] for r in txlog.read(spark, path, predicate=("k", 100, 109)).collect()
    )
    assert got == list(range(100, 110))
    # stats survive log replay at any version
    st = txlog.snapshot_stats(path)
    assert all("k" in cols for cols in st.values())
    mins = sorted(cols["k"][0] for cols in st.values())
    assert mins == [0, 100, 200]


def test_file_skipping_keeps_statless_files(spark, tmp_path):
    """A file with no recorded stats for the predicate column is
    conservatively KEPT (correctness before pruning)."""
    import json
    import os

    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]).coalesce(1), path)
    # simulate a pre-stats writer: strip stats from the log entry
    f = os.path.join(path, "_txlog", "00000000.json")
    entry = json.load(open(f))
    entry["stats"] = {}
    open(f, "w").write(json.dumps(entry))
    kept, total = txlog.prune_files(path, "k", 1000, 2000)
    assert (len(kept), total) == (1, 1), "statless file must not be skipped"


def test_optimize_compacts_files_and_preserves_data_and_history(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]).coalesce(1), path)
    txlog.append(_df(spark, [(2, "b")]).coalesce(1), path)
    txlog.append(_df(spark, [(3, "c")]).coalesce(1), path)
    assert len(txlog.snapshot_files(path)) == 3
    v = txlog.optimize(spark, path)
    assert v == 3 and len(txlog.snapshot_files(path)) == 1
    got = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert got == [1, 2, 3], "OPTIMIZE must not change data"
    # pre-compaction versions still time-travel
    assert sorted(r["k"] for r in txlog.read(spark, path, version=1).collect()) == [1, 2]
    # compacted file carries merged stats for skipping
    st = txlog.snapshot_stats(path)
    (cols,) = st.values()
    assert cols["k"] == [1, 3]


def test_vacuum_reclaims_old_files_only(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]).coalesce(1), path)       # v0
    txlog.overwrite(_df(spark, [(2, "b")]).coalesce(1), path)    # v1
    txlog.overwrite(_df(spark, [(3, "c")]).coalesce(1), path)    # v2
    deleted = txlog.vacuum(path, keep_versions=2)
    assert deleted == txlog.read_log(path)[0]["adds"], (
        "only v0's (otherwise-unreferenced) files are reclaimed"
    )
    # retained versions still read
    assert [r["k"] for r in txlog.read(spark, path, version=1).collect()] == [2]
    assert [r["k"] for r in txlog.read(spark, path).collect()] == [3]
    # the vacuumed version fails at SCAN time (file genuinely gone)
    import pytest as _pytest

    with _pytest.raises(Exception):
        txlog.read(spark, path, version=0).collect()


def test_vacuum_keeps_files_shared_with_retained_versions(spark, tmp_path):
    """Append-only history: v0's files are part of EVERY later
    snapshot, so even keep_versions=1 must not delete them."""
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]).coalesce(1), path)
    txlog.append(_df(spark, [(2, "b")]).coalesce(1), path)
    assert txlog.vacuum(path, keep_versions=1) == []
    assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [1, 2]


def test_temporal_and_string_stats_are_json_safe_and_prunable(spark, tmp_path):
    """ADVICE r5: Spark-written date columns surface footer stats as
    datetime.date objects, which made json.dumps raise in commit() —
    any table with temporal columns failed to create. Stats are now
    normalized (temporal -> ISO-8601 strings, lexicographic ==
    chronological), and string keys prune files (VERDICT r5 item 3:
    the most common partition-key family in practice)."""
    import datetime as dt

    path = str(tmp_path / "t")
    rows = [
        ("apple", dt.datetime(2024, 1, 1), dt.date(2024, 1, 1), 1),
        ("banana", dt.datetime(2024, 1, 31), dt.date(2024, 1, 31), 2),
    ]
    schema = "s string, ts timestamp, d date, k long"
    txlog.create(spark.createDataFrame(rows, schema).coalesce(1), path)
    rows2 = [
        ("melon", dt.datetime(2024, 6, 1), dt.date(2024, 6, 1), 3),
        ("peach", dt.datetime(2024, 6, 30), dt.date(2024, 6, 30), 4),
    ]
    txlog.append(spark.createDataFrame(rows2, schema).coalesce(1), path)
    st = txlog.snapshot_stats(path)
    assert len(st) == 2
    # every recorded stat survives a JSON round-trip by construction;
    # date stats are ISO strings
    d_bounds = sorted(cols["d"] for cols in st.values())
    assert d_bounds == [
        ["2024-01-01", "2024-01-31"],
        ["2024-06-01", "2024-06-30"],
    ]
    # string-key skipping fires
    kept, total = txlog.prune_files(path, "s", "a", "c")
    assert (len(kept), total) == (1, 2), (kept, total)
    got = sorted(
        r["s"] for r in txlog.read(spark, path, predicate=("s", "a", "c")).collect()
    )
    assert got == ["apple", "banana"]
    # date-key skipping via ISO-8601 bounds
    kept, total = txlog.prune_files(path, "d", "2024-05-01", "2024-12-31")
    assert (len(kept), total) == (1, 2), (kept, total)


def test_empty_prune_returns_empty_dataframe_with_schema(spark, tmp_path):
    """ADVICE r5: a predicate that legitimately prunes every file must
    return zero rows with the table schema, not raise — an empty range
    read is not a corrupt table."""
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), path)
    out = txlog.read(spark, path, predicate=("k", 1000, 2000))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["k", "v"]
    # a snapshot with no files at all is still an error
    import json

    f = os.path.join(path, "_txlog", "00000000.json")
    entry = json.load(open(f))
    entry["adds"] = []
    open(f, "w").write(json.dumps(entry))
    with pytest.raises(ValueError):
        txlog.read(spark, path)


def test_checkpoint_consolidates_and_replay_reads_tail_only(spark, tmp_path):
    """VERDICT r5 item 3: after the automatic checkpoint at version
    CHECKPOINT_INTERVAL, snapshot resolution must start from the
    checkpoint — proven by deleting every pre-checkpoint log entry and
    resolving anyway (metadata-only commits; no Spark writes needed)."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    txlog.commit(path, ["f0.parquet"], [], expected_version=-1,
                 stats={"f0.parquet": {"k": [0, 9]}})
    for v in range(1, 13):
        txlog.commit(path, [f"f{v}.parquet"], [f"f{v-1}.parquet"],
                     expected_version=v - 1,
                     stats={f"f{v}.parquet": {"k": [v * 10, v * 10 + 9]}})
    assert txlog.checkpoint_versions(path) == [txlog.CHECKPOINT_INTERVAL]
    # destroy the pre-checkpoint prefix: resolution must not need it
    for v in range(txlog.CHECKPOINT_INTERVAL):
        os.remove(os.path.join(path, "_txlog", f"{v:08d}.json"))
    assert txlog.snapshot_files(path) == ["f12.parquet"]
    assert txlog.snapshot_stats(path)["f12.parquet"]["k"] == [120, 129]
    # time travel to checkpoint and post-checkpoint versions still works
    assert txlog.snapshot_files(path, 10) == ["f10.parquet"]
    assert txlog.snapshot_files(path, 11) == ["f11.parquet"]
    # pruning consults checkpoint-carried stats
    kept, total = txlog.prune_files(path, "k", 0, 50)
    assert (kept, total) == ([], 1)


def test_interrupted_publish_never_wedges_the_log(spark, tmp_path):
    """ADVICE r5: the old O_EXCL-claim-then-write had a crash window
    that left a torn entry counted as committed, wedging the table
    forever. With temp+fsync+link, a crash before link leaves only an
    inert temp file: the version is NOT committed, reads keep working,
    and the next writer claims it normally."""
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]).coalesce(1), path)
    # simulate a writer that died after writing its temp but before
    # publishing: an orphan temp file in the log dir
    orphan = os.path.join(path, "_txlog", ".tmp-deadbeef")
    open(orphan, "w").write('{"version": 1, "adds": [], "removes": []}')
    assert txlog.current_version(path) == 0, "temp files are not commits"
    assert [r["k"] for r in txlog.read(spark, path).collect()] == [1]
    txlog.append(_df(spark, [(2, "b")]).coalesce(1), path)  # v1 claimable
    assert txlog.current_version(path) == 1
    assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [1, 2]


def test_commit_race_exactly_one_winner_per_version(tmp_path):
    """Contention check for the commit backend (VERDICT r5 stretch):
    two threads race optimistic commits for 50 rounds; every published
    version must have exactly one complete, parseable entry and the
    win counts must sum to the version count."""
    import json
    import threading

    path = str(tmp_path / "t")
    os.makedirs(path)
    txlog.commit(path, ["seed.parquet"], [], expected_version=-1)
    wins = {"a": 0, "b": 0}
    ROUNDS = 50

    def writer(tag):
        done = 0
        while done < ROUNDS:
            base = txlog.current_version(path)
            try:
                txlog.commit(path, [f"{tag}{done}.parquet"], [],
                             expected_version=base, operation=tag)
                wins[tag] += 1
                done += 1
            except txlog.TxLogConflict:
                continue  # re-resolve and retry — the optimistic loop

    ta = threading.Thread(target=writer, args=("a",))
    tb = threading.Thread(target=writer, args=("b",))
    ta.start(); tb.start(); ta.join(); tb.join()
    final = txlog.current_version(path)
    assert final == 2 * ROUNDS, "both writers eventually land all commits"
    assert wins["a"] == ROUNDS and wins["b"] == ROUNDS
    # every entry parses and its version matches its filename — no
    # torn or duplicate publications anywhere in the contended log
    for v in range(final + 1):
        with open(os.path.join(path, "_txlog", f"{v:08d}.json")) as f:
            entry = json.load(f)
        assert entry["version"] == v
    # the automatic checkpoints landed on the interval boundaries
    assert txlog.checkpoint_versions(path) == list(
        range(txlog.CHECKPOINT_INTERVAL, final + 1, txlog.CHECKPOINT_INTERVAL)
    )


def test_txlog_model_random_histories(spark, tmp_path):
    """Model check: a random mixed history of appends/overwrites/
    optimizes must read back, AT EVERY VERSION, exactly what a plain
    Python model says that version held (seeded sequences — a
    deterministic mini-stateful-test without per-example Spark
    session cost)."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        path = str(tmp_path / f"m{trial}")
        nxt = iter(range(1, 1000))
        first = [(next(nxt), "x") for _ in range(rng.randint(1, 3))]
        txlog.create(_df(spark, first).coalesce(1), path)
        model = {0: sorted(k for k, _ in first)}
        for v in range(1, 5):
            op = rng.choice(["append", "overwrite", "optimize"])
            rows = [(next(nxt), "x") for _ in range(rng.randint(1, 3))]
            if op == "append":
                txlog.append(_df(spark, rows).coalesce(1), path)
                model[v] = sorted(model[v - 1] + [k for k, _ in rows])
            elif op == "overwrite":
                txlog.overwrite(_df(spark, rows).coalesce(1), path)
                model[v] = sorted(k for k, _ in rows)
            else:
                txlog.optimize(spark, path)
                model[v] = model[v - 1]
        for v, expect in model.items():
            got = sorted(r["k"] for r in txlog.read(spark, path, version=v).collect())
            assert got == expect, (trial, v, got, expect)


# ---------------------------------------------------------------------------
# Copy-on-write mutations (round 6): delete / merge


def _kv(spark, n=100, parts=4):
    df = spark.range(n).selectExpr("id AS k", "CAST(id * 2 AS STRING) AS v")
    return df.repartitionByRange(parts, "k")


def test_delete_rewrites_only_matching_files(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_kv(spark), path)
    res = txlog.delete(spark, path, "k >= 10 AND k < 20", prune=("k", 10, 19))
    assert res["rows_deleted"] == 10
    assert 0 < res["files_rewritten"] < res["files_total"]
    got = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert got == [k for k in range(100) if not (10 <= k < 20)]
    # time travel: the pre-delete version is intact
    assert txlog.read(spark, path, version=res["version"] - 1).count() == 100


def test_delete_without_prune_band_scans_all_but_rewrites_matched_only(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    txlog.create(_kv(spark), path)
    res = txlog.delete(spark, path, "k % 50 = 3")  # keys 3 and 53
    assert res["rows_deleted"] == 2
    assert 0 < res["files_rewritten"] < res["files_total"]
    assert txlog.read(spark, path).count() == 98


def test_delete_entire_file_drops_without_rewrite(spark, tmp_path):
    path = str(tmp_path / "t")
    # two files with disjoint known ranges
    txlog.create(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), path)
    txlog.append(_df(spark, [(10, "c"), (11, "d")]).coalesce(1), path)
    before = set(txlog.snapshot_files(path))
    res = txlog.delete(spark, path, "k >= 10")
    after = set(txlog.snapshot_files(path))
    assert res["rows_deleted"] == 2 and res["files_rewritten"] == 1
    # the fully-matched file was removed and NOTHING was added
    assert after < before
    assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [1, 2]


def test_delete_matching_nothing_is_a_noop(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_kv(spark), path)
    v0 = txlog.current_version(path)
    res = txlog.delete(spark, path, "k > 1000000")
    assert res["version"] == v0 and res["rows_deleted"] == 0
    assert txlog.current_version(path) == v0  # no version burn


def test_merge_upsert_delete_semantics(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_kv(spark), path)
    src = spark.createDataFrame(
        [(0, "UPD", "U"), (1, "UPD", "U"), (200, "NEW", "I"), (50, "", "D")],
        "k long, v string, op string",
    )
    res = txlog.merge(spark, path, src, on=["k"], op_col="op")
    assert 0 < res["files_rewritten"] < res["files_total"]
    assert res["rows_upserted"] == 3 and res["rows_deleted"] == 1
    rows = {r["k"]: r["v"] for r in txlog.read(spark, path).collect()}
    assert rows[0] == "UPD" and rows[1] == "UPD" and rows[200] == "NEW"
    assert 50 not in rows and rows[99] == "198"
    assert len(rows) == 100  # 100 - 1 delete + 1 insert
    # time travel: the pre-merge version is intact
    old = {r["k"]: r["v"] for r in
           txlog.read(spark, path, version=res["version"] - 1).collect()}
    assert old[0] == "0" and 50 in old and 200 not in old


def test_merge_pure_upsert_without_op_col(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_kv(spark), path)
    src = spark.createDataFrame([(5, "X"), (500, "Y")], "k long, v string")
    res = txlog.merge(spark, path, src, on=["k"])
    assert res["rows_upserted"] == 2 and res["rows_deleted"] == 0
    rows = {r["k"]: r["v"] for r in txlog.read(spark, path).collect()}
    assert rows[5] == "X" and rows[500] == "Y" and len(rows) == 101


def test_merge_inserts_only_touch_no_old_files(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_kv(spark), path)
    before = set(txlog.snapshot_files(path))
    src = spark.createDataFrame([(1000, "N")], "k long, v string")
    res = txlog.merge(spark, path, src, on=["k"])
    assert res["files_rewritten"] == 0
    after = set(txlog.snapshot_files(path))
    assert before < after and len(after - before) == 1


def test_mutations_keep_file_count_bounded(spark, tmp_path):
    """A delete/merge rewriting N files must add at most N (not the
    cluster's default parallelism)."""
    path = str(tmp_path / "t")
    txlog.create(_kv(spark), path)
    n0 = len(txlog.snapshot_files(path))
    txlog.delete(spark, path, "k % 10 = 0")  # touches every file
    assert len(txlog.snapshot_files(path)) <= n0
    src = spark.createDataFrame([(k, "U2", "U") for k in range(0, 99, 7)],
                                "k long, v string, op string")
    txlog.merge(spark, path, src, on=["k"], op_col="op")
    assert len(txlog.snapshot_files(path)) <= n0


def test_zorder_optimize_prunes_both_dims_and_preserves_data(spark, tmp_path):
    path = str(tmp_path / "t")
    # y is a modular permutation of x: the dims are INDEPENDENT, the
    # worst case for any single-column sort — and hash-shuffled files
    # make the stats tier useless before the Z-order pass
    df = spark.range(8000).selectExpr(
        "id AS x", "CAST((id * 7919) % 8000 AS LONG) AS y", "id * 2 AS v"
    )
    txlog.create(df.repartition(8), path)
    kx0, t0 = txlog.prune_files(path, "x", 0, 999)
    ky0, _ = txlog.prune_files(path, "y", 0, 999)
    assert len(kx0) == len(ky0) == t0  # hash layout: nothing prunes
    txlog.optimize(spark, path, target_files=16, zorder_by=("x", "y"))
    kx1, t1 = txlog.prune_files(path, "x", 0, 999)
    ky1, _ = txlog.prune_files(path, "y", 0, 999)
    assert len(kx1) < t1 and len(ky1) < t1  # both dims prune
    got = sorted(r["v"] for r in txlog.read(spark, path).collect())
    assert got == [i * 2 for i in range(8000)]  # data unchanged
    # prior version still time-travels
    assert txlog.read(spark, path, version=0).count() == 8000


def test_schema_evolution_additive_append_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), path)
    evolved = spark.createDataFrame(
        [(3, "c", "web")], "k long, v string, channel string"
    )
    # additive evolution requires the explicit opt-in
    with pytest.raises(ValueError, match="merge_schema"):
        txlog.append(evolved, path)
    txlog.append(evolved.coalesce(1), path, merge_schema=True)
    rows = {r["k"]: (r["v"], r["channel"])
            for r in txlog.read(spark, path).collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", "web")}
    # schema time travel: version 0 has the OLD column set
    assert txlog.read(spark, path, version=0).columns == ["k", "v"]
    assert [f.name for f in txlog.snapshot_schema(path).fields] == [
        "k", "v", "channel"
    ]
    # a later subset append fills the evolved column with null
    txlog.append(_df(spark, [(4, "d")]).coalesce(1), path, merge_schema=True)
    rows = {r["k"]: r["channel"] for r in txlog.read(spark, path).collect()}
    assert rows[4] is None and len(rows) == 4


def test_schema_type_change_always_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]), path)
    bad = spark.createDataFrame([(2, 2)], "k long, v long")
    with pytest.raises(ValueError, match="type change"):
        txlog.append(bad, path, merge_schema=True)
    with pytest.raises(ValueError, match="type change"):
        txlog.overwrite(bad, path)


def test_schema_survives_checkpoint_resolution(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(0, "x")]).coalesce(1), path)
    evolved = spark.createDataFrame(
        [(1, "y", 9)], "k long, v string, extra long"
    )
    txlog.append(evolved.coalesce(1), path, merge_schema=True)
    # push past a checkpoint boundary so resolution uses the
    # checkpoint's recorded schema, not the entry that introduced it
    for i in range(2, 13):
        txlog.append(_df(spark, [(i, "z")]).coalesce(1), path,
                     merge_schema=True)
    assert txlog.checkpoint_versions(path)  # a checkpoint exists
    names = [f.name for f in txlog.snapshot_schema(path).fields]
    assert names == ["k", "v", "extra"]
    rows = {r["k"]: r["extra"] for r in txlog.read(spark, path).collect()}
    assert rows[1] == 9 and rows[12] is None


def test_timestamp_as_of_resolution(spark, tmp_path):
    import time as _time

    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]).coalesce(1), path)
    t_mid = _time.time()
    txlog.append(_df(spark, [(2, "b")]).coalesce(1), path)
    assert txlog.version_at_timestamp(path, t_mid) == 0
    assert txlog.read(spark, path, timestamp=t_mid).count() == 1
    assert txlog.read(spark, path, timestamp=_time.time()).count() == 2
    with pytest.raises(ValueError, match="did not exist"):
        txlog.version_at_timestamp(path, 0.0)
    with pytest.raises(ValueError, match="not both"):
        txlog.read(spark, path, version=0, timestamp=t_mid)


def test_change_feed_net_changes_per_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(20).selectExpr("id AS k", "id * 2 AS v")
    txlog.create(df.repartitionByRange(2, "k"), path)  # v0
    txlog.append(
        spark.range(20, 25).selectExpr("id AS k", "id * 2 AS v"), path
    )  # v1
    txlog.delete(spark, path, "k < 3")  # v2
    src = spark.createDataFrame(
        [(5, -5, "U"), (100, 1, "I"), (7, 0, "D")], "k long, v long, op string"
    )
    txlog.merge(spark, path, src, on=["k"], op_col="op")  # v3
    txlog.optimize(spark, path)  # v4: layout-only
    rows = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in txlog.changes(spark, path, 0).collect()
    )
    v1 = [(k, v) for c, t, k, v in rows if c == 1]
    assert v1 == [(k, 2 * k) for k in range(20, 25)]
    assert [(k, v) for c, t, k, v in rows if c == 2] == [(0, 0), (1, 2), (2, 4)]
    assert [(t, k, v) for c, t, k, v in rows if c == 3] == [
        ("delete", 5, 10), ("delete", 7, 14),
        ("insert", 5, -5), ("insert", 100, 1),
    ]
    assert not [r for r in rows if r[0] == 4]  # optimize emits nothing
    # sub-range: only v2's changes
    assert {r["_commit_version"]
            for r in txlog.changes(spark, path, 1, 2).collect()} == {2}
    with pytest.raises(ValueError, match="bad change range"):
        txlog.changes(spark, path, 3, 99)


def test_txlog_model_random_histories_with_mutations(spark, tmp_path):
    """Model check over the FULL op surface (append/overwrite/optimize
    + round-6 delete/merge): every version must read back exactly the
    key->value map a plain Python model says it held — values too, so
    a merge that updates in place is distinguished from one that
    drops/duplicates. Round 7 adds the merge-on-read surface to the
    mix (delete_mor / purge_dvs), so vector union, COW-through-
    vectors, purge re-materialization, and restore's dv_reset are all
    exercised under random interleavings, not just the scripted
    cases."""
    import random

    rng = random.Random(13)
    for trial in range(3):
        path = str(tmp_path / f"mm{trial}")
        nxt = iter(range(1, 10000))
        first = {next(nxt): "x" for _ in range(rng.randint(2, 4))}
        txlog.create(
            _df(spark, sorted(first.items())).coalesce(1), path
        )
        model = {0: dict(first)}
        v = 0
        while v < 9:
            cur = dict(model[v])
            op = rng.choice(
                ["append", "overwrite", "optimize", "delete", "merge",
                 "update", "restore", "delete_mor", "purge"]
            )
            if op == "append":
                rows = {next(nxt): "x" for _ in range(rng.randint(1, 3))}
                txlog.append(_df(spark, sorted(rows.items())).coalesce(1), path)
                cur.update(rows)
            elif op == "overwrite":
                rows = {next(nxt): "x" for _ in range(rng.randint(1, 3))}
                txlog.overwrite(
                    _df(spark, sorted(rows.items())).coalesce(1), path
                )
                cur = rows
            elif op == "optimize":
                txlog.optimize(spark, path)
            elif op == "delete":
                if len(cur) < 2:
                    continue  # keep the table non-empty
                doomed = rng.choice(sorted(cur))
                res = txlog.delete(spark, path, f"k = {doomed}")
                assert res["rows_deleted"] == 1
                del cur[doomed]
            elif op == "merge":  # update one existing key + insert one new
                upd = rng.choice(sorted(cur))
                new = next(nxt)
                src = spark.createDataFrame(
                    [(upd, f"u{v}"), (new, f"i{v}")], "k long, v string"
                )
                txlog.merge(spark, path, src, on=["k"])
                cur[upd] = f"u{v}"
                cur[new] = f"i{v}"
            elif op == "delete_mor":
                if len(cur) < 2:
                    continue
                doomed = rng.choice(sorted(cur))
                res = txlog.delete_mor(spark, path, f"k = {doomed}")
                assert res["rows_deleted"] == 1
                del cur[doomed]
            elif op == "purge":
                pre = txlog.current_version(path)
                txlog.purge_dvs(spark, path)
                if txlog.current_version(path) == pre:
                    continue  # nothing to purge — no version burn
            elif op == "update":
                target = rng.choice(sorted(cur))
                res = txlog.update(
                    spark, path, f"k = {target}", {"v": f"'U{v}'"}
                )
                assert res["rows_updated"] == 1
                cur[target] = f"U{v}"
            else:  # restore to a random earlier version
                target_v = rng.randint(0, v)
                txlog.restore(path, target_v)
                if target_v == v:
                    continue  # no-op restore burns no version
                cur = dict(model[target_v])
            v += 1
            model[v] = cur
        for v, expect in model.items():
            got = {
                r["k"]: r["v"]
                for r in txlog.read(spark, path, version=v).collect()
            }
            assert got == expect, (trial, v, got, expect)


def test_bloom_point_lookup_prunes_hash_distributed_files(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(4000).selectExpr("id AS k", "id * 3 AS v")
    txlog.create(df.repartition(8, "k"), path, bloom_columns=("k",))
    # band stats are useless on this layout for a mid-range probe
    band, total = txlog.prune_files(path, "k", 2111, 2111)
    assert len(band) == total == 8
    kept, _ = txlog.prune_files_point(path, "k", 2111)
    assert 1 <= len(kept) < total
    rows = txlog.read(spark, path, point=("k", 2111)).collect()
    assert [(r["k"], r["v"]) for r in rows] == [(2111, 6333)]
    # absent key: bloom says no everywhere (modulo fp), read is empty
    assert txlog.read(spark, path, point=("k", 10**9)).count() == 0


def test_bloom_property_survives_rewrites_and_appends(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(1000).selectExpr("id AS k", "id AS v")
    txlog.create(df.repartition(4, "k"), path, bloom_columns=("k",))
    assert txlog.table_properties(path) == {"bloom_columns": ["k"]}
    txlog.append(
        spark.range(1000, 2000).selectExpr("id AS k", "id AS v")
        .repartition(4, "k"),
        path,
    )
    txlog.delete(spark, path, "k = 500")
    src = spark.createDataFrame([(600, -1)], "k long, v long")
    txlog.merge(spark, path, src, on=["k"])
    # every active file (original, appended, rewritten) carries a bloom
    stats = txlog.snapshot_stats(path)
    assert stats and all("__bloom__" in st for st in stats.values())
    # and point reads stay correct through the mutations
    assert txlog.read(spark, path, point=("k", 500)).count() == 0
    assert [
        r["v"] for r in txlog.read(spark, path, point=("k", 600)).collect()
    ] == [-1]
    assert [
        r["v"] for r in txlog.read(spark, path, point=("k", 1500)).collect()
    ] == [1500]


def test_bloom_false_positive_rate_is_sane(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(
        spark.range(2000).selectExpr("id AS k", "id AS v").coalesce(1),
        path,
        bloom_columns=("k",),
    )
    # probe 500 keys that are NOT in the table; the single file's
    # bloom should reject the vast majority (~3% fp design point)
    fp = sum(
        1
        for probe in range(10_000, 10_500)
        if txlog.prune_files_point(path, "k", probe)[0]
    )
    assert fp <= 40, fp  # 8% ceiling on a ~3% design point


def test_append_with_retry_under_concurrent_writers(spark, tmp_path):
    """Four threads x three appends each, all racing: every append
    must land (no lost updates), versions must be contiguous, and the
    final table must hold exactly the union of all batches."""
    import threading

    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(0, "seed")]).coalesce(1), path)
    errors = []

    def writer(tid: int) -> None:
        try:
            for j in range(3):
                base = 1000 * tid + j
                txlog.append_with_retry(
                    _df(spark, [(base, f"w{tid}")]).coalesce(1), path
                )
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert txlog.current_version(path) == 12  # create + 12 appends
    got = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert got == sorted([0] + [1000 * t + j for t in range(4) for j in range(3)])
    # every version is a parseable, contiguous entry
    ops = [e["operation"] for e in txlog.read_log(path)]
    assert ops == ["create"] + ["append"] * 12


def test_update_rewrites_only_matching_files(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    txlog.create(df.repartitionByRange(4, "k"), path)
    res = txlog.update(
        spark, path, "k >= 10 AND k < 20", {"v": "v * 2 + 1"},
        prune=("k", 10, 19),
    )
    assert res["rows_updated"] == 10
    assert 0 < res["files_rewritten"] < res["files_total"]
    rows = {r["k"]: r["v"] for r in txlog.read(spark, path).collect()}
    assert rows[15] == 31.0 and rows[5] == 5.0 and len(rows) == 100
    # pre-update version time-travels with the OLD values
    old = {r["k"]: r["v"]
           for r in txlog.read(spark, path, version=0).collect()}
    assert old[15] == 15.0
    # unknown SET target raises; no-match update is a no-op
    with pytest.raises(ValueError, match="unknown columns"):
        txlog.update(spark, path, "k = 1", {"nope": "1"})
    r2 = txlog.update(spark, path, "k > 1000000000", {"v": "0"})
    assert r2["rows_updated"] == 0 and r2["version"] == res["version"]


def test_delete_null_condition_rows_survive(spark, tmp_path):
    """SQL three-valued logic: a row where the DELETE condition
    evaluates NULL is NOT a match and must survive the rewrite
    (a bare where(~cond) silently dropped it before the r6 review)."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 10.0), (4, None)], "k long, v double"
    )
    txlog.create(df.coalesce(1), path)
    res = txlog.delete(spark, path, "v < 5")
    assert res["rows_deleted"] == 1  # only k=1; NULLs are not matches
    got = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert got == [2, 3, 4]


def test_restore_rolls_back_as_a_forward_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_kv(spark, 20, 2), path)                      # v0
    txlog.delete(spark, path, "k < 5")                          # v1
    evolved = spark.createDataFrame(
        [(100, "x", "web")], "k long, v string, channel string"
    )
    txlog.append(evolved.coalesce(1), path, merge_schema=True)  # v2
    v = txlog.restore(path, 0)                                  # v3
    assert v == 3 and txlog.current_version(path) == 3
    # head now equals v0 exactly — data AND schema
    got = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert got == list(range(20))
    assert txlog.read(spark, path).columns == ["k", "v"]
    # the undone history is still time-travelable (undo is undoable)
    assert txlog.read(spark, path, version=2).count() == 16
    assert "channel" in txlog.read(spark, path, version=2).columns
    # restore emits a change feed like any commit: net changes v2->v3
    ch = txlog.changes(spark, path, 2, 3)
    counts = {r["_change_type"]: 1 for r in ch.collect()}  # presence only
    assert "insert" in counts and "delete" in counts
    # stats survive: file skipping still works on the restored head
    kept, total = txlog.prune_files(path, "k", 0, 9)
    assert 0 < len(kept) <= total
    # restoring to the current head is a no-op
    assert txlog.restore(path, 3) == 3
    with pytest.raises(ValueError, match="cannot restore"):
        txlog.restore(path, 99)


def test_shallow_clone_zero_copy_and_independent_evolution(spark, tmp_path):
    import glob as _glob

    src = str(tmp_path / "src")
    dst = str(tmp_path / "sandbox")
    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    txlog.create(df.repartitionByRange(4, "k"), src, bloom_columns=("k",))
    assert txlog.clone(src, dst) == 0
    # zero copy: the clone holds NO data files of its own
    assert not _glob.glob(os.path.join(dst, "data-*", "*.parquet"))
    assert txlog.read(spark, dst).count() == 100
    # stats, blooms, and properties carried over
    kept, total = txlog.prune_files(dst, "k", 0, 24)
    assert 0 < len(kept) < total
    kp, _ = txlog.prune_files_point(dst, "k", 50)
    assert 0 < len(kp) < total
    assert txlog.table_properties(dst)["bloom_columns"] == ["k"]
    # mutations on the clone never touch the source
    txlog.delete(spark, dst, "k < 10")
    src2 = spark.createDataFrame([(50, -1), (500, 5)], "k long, v long")
    txlog.merge(spark, dst, src2, on=["k"])
    rows = {r["k"]: r["v"] for r in txlog.read(spark, dst).collect()}
    assert rows[50] == -1 and rows[500] == 5 and len(rows) == 91
    assert txlog.read(spark, src).count() == 100
    assert {r["k"]: r["v"] for r in txlog.read(spark, src).collect()}[50] == 100
    # the clone's vacuum must not reach through the reference
    doomed = txlog.vacuum(dst, keep_versions=1)
    assert all(".." not in d for d in doomed)
    assert txlog.read(spark, src).count() == 100
    # OPTIMIZE localizes every referenced row — the tie is cut
    txlog.optimize(spark, dst)
    assert all(
        ".." not in f for f in txlog.snapshot_files(dst)
    )
    assert txlog.read(spark, dst).count() == 91


def test_clone_refuses_existing_destination(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    txlog.create(_df(spark, [(1, "a")]), src)
    txlog.create(_df(spark, [(2, "b")]), dst)
    with pytest.raises(FileExistsError):
        txlog.clone(src, dst)
    # cloning a time-travel version pins that snapshot
    txlog.append(_df(spark, [(3, "c")]), src)
    dst2 = str(tmp_path / "dst2")
    txlog.clone(src, dst2, version=0)
    assert txlog.read(spark, dst2).count() == 1


def test_check_constraints_enforced_by_every_writer(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(10).selectExpr("id AS k", "CAST(id + 1 AS DOUBLE) AS v")
    txlog.create(
        df.coalesce(1), path, check_constraints={"v_positive": "v > 0"}
    )
    v0 = txlog.current_version(path)
    bad = spark.createDataFrame([(100, -1.0)], "k long, v double")
    # append refuses BEFORE committing anything
    with pytest.raises(ValueError, match="v_positive"):
        txlog.append(bad, path)
    with pytest.raises(ValueError, match="v_positive"):
        txlog.append_with_retry(bad, path)
    with pytest.raises(ValueError, match="v_positive"):
        txlog.overwrite(bad, path)
    # merge upserts are validated
    with pytest.raises(ValueError, match="v_positive"):
        txlog.merge(spark, path, bad, on=["k"])
    # update SET results are validated
    with pytest.raises(ValueError, match="v_positive"):
        txlog.update(spark, path, "k < 3", {"v": "v - 100"})
    assert txlog.current_version(path) == v0  # nothing committed
    # NULL passes (standard SQL CHECK), valid writes land
    ok = spark.createDataFrame([(200, None), (201, 5.0)], "k long, v double")
    txlog.append(ok.coalesce(1), path)
    assert txlog.read(spark, path).count() == 12
    # a violating CREATE never materializes a table
    bad_path = str(tmp_path / "bad")
    with pytest.raises(ValueError, match="v_positive"):
        txlog.create(bad, bad_path, check_constraints={"v_positive": "v > 0"})
    assert txlog.current_version(bad_path) == -1


def test_history_and_sql_view(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_kv(spark, 50, 2), path)
    txlog.delete(spark, path, "k < 10")
    txlog.optimize(spark, path)
    h = txlog.history(spark, path).collect()
    assert [r["version"] for r in h] == [2, 1, 0]  # newest first
    assert [r["operation"] for r in h] == ["optimize", "delete", "create"]
    assert all(r["n_added"] >= 0 and r["timestamp"] > 0 for r in h)
    # SQL over a registered snapshot; later commits don't move the view
    txlog.register_view(spark, path, "t_now")
    txlog.register_view(spark, path, "t_v0", version=0)
    assert spark.sql("SELECT count(*) AS n FROM t_now").collect()[0]["n"] == 40
    assert spark.sql("SELECT count(*) AS n FROM t_v0").collect()[0]["n"] == 50
    txlog.append(_df(spark, [(999, "z")]).coalesce(1), path)
    assert spark.sql("SELECT count(*) AS n FROM t_now").collect()[0]["n"] == 40
    spark.catalog.dropTempView("t_now")
    spark.catalog.dropTempView("t_v0")


def test_zorder_three_columns_prunes_all_dims(spark, tmp_path):
    path = str(tmp_path / "t")
    # three mutually-permuted dims — no single sort helps the others
    df = spark.range(8000).selectExpr(
        "id AS x",
        "CAST((id * 7919) % 8000 AS LONG) AS y",
        "CAST((id * 104729) % 8000 AS LONG) AS z",
        "id AS v",
    )
    txlog.create(df.repartition(8), path)
    txlog.optimize(spark, path, target_files=27, zorder_by=("x", "y", "z"))
    for col in ("x", "y", "z"):
        kept, total = txlog.prune_files(path, col, 0, 999)
        assert 0 < len(kept) < total, (col, len(kept), total)
    got = sorted(r["v"] for r in txlog.read(spark, path).collect())
    assert got == list(range(8000))


def test_multi_band_read_intersects_pruning(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(8000).selectExpr(
        "id AS x", "CAST((id * 7919) % 8000 AS LONG) AS y", "id AS v"
    )
    txlog.create(df.repartition(8), path)
    txlog.optimize(spark, path, target_files=16, zorder_by=("x", "y"))
    kx, total = txlog.prune_files(path, "x", 0, 999)
    ky, _ = txlog.prune_files(path, "y", 0, 999)
    both = txlog.read(
        spark, path, predicates=[("x", 0, 999), ("y", 0, 999)]
    )
    expect = [
        r["v"]
        for r in df.where("x <= 999 AND y <= 999").collect()
    ]
    assert sorted(r["v"] for r in both.collect()) == sorted(expect)
    # the conjunction's kept set is the intersection — strictly
    # smaller than either single band on the z-ordered layout
    inter = set(kx) & set(ky)
    assert len(inter) <= min(len(kx), len(ky)) < total
    with pytest.raises(ValueError, match="at most one"):
        txlog.read(spark, path, predicate=("x", 0, 1),
                   predicates=[("y", 0, 1)])


def test_vacuum_dry_run_deletes_nothing(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]).coalesce(1), path)
    txlog.overwrite(_df(spark, [(2, "b")]).coalesce(1), path)
    txlog.overwrite(_df(spark, [(3, "c")]).coalesce(1), path)
    would = txlog.vacuum(path, keep_versions=1, dry_run=True)
    assert would
    # nothing was touched: the doomed version still reads
    assert txlog.read(spark, path, version=0).count() == 1
    did = txlog.vacuum(path, keep_versions=1)
    assert did == would
    with pytest.raises(Exception):
        txlog.read(spark, path, version=0).count()


# --- ADVICE r6 regression teeth ------------------------------------------


def test_merge_rejects_null_or_unknown_op(spark, tmp_path):
    """A NULL op row must raise, not act as a silent DELETE: before the
    guard, `op != 'D'` (NULL-unsafe) dropped the row from the upserts
    while its key still anti-joined the target match away."""
    path = str(tmp_path / "t")
    txlog.create(_kv(spark), path)
    src = spark.createDataFrame(
        [(0, "UPD", None), (1, "UPD", "U")], "k long, v string, op string"
    )
    with pytest.raises(ValueError, match="non-null"):
        txlog.merge(spark, path, src, on=["k"], op_col="op")
    # nothing committed, nothing lost
    assert txlog.current_version(path) == 0
    assert txlog.read(spark, path).count() == 100
    bad = spark.createDataFrame([(0, "X", "Z")], "k long, v string, op string")
    with pytest.raises(ValueError, match="'U'/'D'/'I'"):
        txlog.merge(spark, path, bad, on=["k"], op_col="op")


def test_append_retry_recomputes_schema_against_new_head(spark, tmp_path):
    """Losing the version race to a concurrent schema-EVOLVING append
    must not re-commit the pre-race schema at a later version (newest-
    schema-wins resolution would silently drop the new column)."""
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]), path)
    real_commit = txlog.commit
    state = {"raced": False}

    def racing_commit(p, adds, removes, **kw):
        if not state["raced"]:
            state["raced"] = True
            # concurrent writer lands a schema-evolving append first
            wide = spark.createDataFrame(
                [(7, "w", 1.5)], "k long, v string, extra double"
            )
            txlog.append(wide, path, merge_schema=True)
            raise txlog.TxLogConflict("simulated race loss")
        return real_commit(p, adds, removes, **kw)

    txlog.commit = racing_commit
    try:
        txlog.append_with_retry(_df(spark, [(2, "b")]), path, merge_schema=True)
    finally:
        txlog.commit = real_commit
    got = txlog.read(spark, path)
    assert "extra" in got.columns, "concurrent column dropped by stale retry"
    rows = {r["k"]: (r["v"], r["extra"]) for r in got.collect()}
    assert rows[7] == ("w", 1.5) and rows[2] == ("b", None)


def test_bloom_point_probe_is_type_insensitive(spark, tmp_path):
    """A point probe whose Python type differs from the stored column
    type (int 5 vs stored double 5.0) must not skip files that contain
    matches — canonicalized hashing at both write and probe time."""
    path = str(tmp_path / "t")
    df = spark.range(50).selectExpr(
        "CAST(id AS DOUBLE) AS d", "CAST(id AS STRING) AS v"
    ).repartitionByRange(4, "d")
    txlog.create(df, path, bloom_columns=("d",))
    kept, total = txlog.prune_files_point(path, "d", 5)  # int probe
    assert kept, "int probe against double column skipped every file"
    got = txlog.read(spark, path, point=("d", 5)).collect()
    assert len(got) == 1 and got[0]["v"] == "5"


def test_read_with_empty_predicates_keeps_all_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_kv(spark), path)
    assert txlog.read(spark, path, predicates=[]).count() == 100


def test_publish_cleans_tmp_on_write_failure(tmp_path):
    """A payload write that raises (ENOSPC-style) must not leak the
    temp file; a successful publish leaves no temp either."""
    import os as _os

    d = str(tmp_path / "log")
    _os.makedirs(d)
    b = txlog.LocalFSCommitBackend()
    real_fsync = _os.fsync
    calls = {"n": 0}

    def failing_fsync(fd):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError(28, "No space left on device")
        return real_fsync(fd)

    _os.fsync = failing_fsync
    try:
        with pytest.raises(OSError):
            b.publish(_os.path.join(d, "00000000.json"), "{}")
    finally:
        _os.fsync = real_fsync
    assert not glob.glob(_os.path.join(d, ".tmp-*")), "leaked temp file"
    assert not _os.path.exists(_os.path.join(d, "00000000.json"))
    assert b.publish(_os.path.join(d, "00000000.json"), "{}") is True
    assert not glob.glob(_os.path.join(d, ".tmp-*"))


# --- round 7: deletion vectors (merge-on-read) ----------------------------


def test_delete_mor_reads_without_rewriting(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_kv(spark), path)
    files_before = set(txlog.snapshot_files(path))
    res = txlog.delete_mor(spark, path, "k >= 10 AND k < 15")
    assert res["rows_deleted"] == 5 and res["files_touched"] >= 1
    # merge-on-read: the active FILE set is unchanged — only vectors
    assert set(txlog.snapshot_files(path)) == files_before
    ks = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert ks == [k for k in range(100) if not (10 <= k < 15)]
    # time travel: the pre-delete version still has every row
    assert txlog.read(spark, path, version=res["version"] - 1).count() == 100


def test_delete_mor_unions_and_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_kv(spark), path)
    txlog.delete_mor(spark, path, "k < 3")
    res2 = txlog.delete_mor(spark, path, "k < 5")  # overlaps the first
    assert res2["rows_deleted"] == 2, "already-dead rows must not recount"
    assert txlog.read(spark, path).count() == 95
    res3 = txlog.delete_mor(spark, path, "k < 5")
    assert res3["rows_deleted"] == 0
    assert txlog.current_version(path) == res2["version"], "no version burn"


def test_cow_after_mor_does_not_resurrect(spark, tmp_path):
    """A COW rewrite (delete/update/merge/optimize) reading a DV'd file
    must apply the vector — the rewrite drops the vector with the
    file, so missing this would resurrect MOR-deleted rows."""
    path = str(tmp_path / "t")
    txlog.create(_kv(spark), path)
    txlog.delete_mor(spark, path, "k = 7")
    txlog.delete(spark, path, "k = 3")  # COW pass over the same files
    ks = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert 7 not in ks and 3 not in ks and len(ks) == 98
    txlog.optimize(spark, path, target_files=2)
    assert txlog.snapshot_dvs(path) == {}, "optimize localizes vectors away"
    ks = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert 7 not in ks and 3 not in ks and len(ks) == 98


def test_purge_dvs_materializes_survivors(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_kv(spark), path)
    txlog.delete_mor(spark, path, "k % 10 = 0")
    before = sorted((r["k"], r["v"]) for r in txlog.read(spark, path).collect())
    res = txlog.purge_dvs(spark, path)
    assert res["files_purged"] >= 1 and res["rows_dropped"] == 10
    assert txlog.snapshot_dvs(path) == {}
    after = sorted((r["k"], r["v"]) for r in txlog.read(spark, path).collect())
    assert after == before, "purge must not change table content"
    assert txlog.purge_dvs(spark, path)["files_purged"] == 0  # no-op


def test_dv_survives_checkpoint_resolution(spark, tmp_path):
    """Vectors must ride checkpoints: resolve from a checkpoint past
    the DV commit and the deleted rows stay deleted."""
    path = str(tmp_path / "t")
    txlog.create(_kv(spark), path)
    txlog.delete_mor(spark, path, "k = 42")
    # push past a checkpoint boundary (interval 10)
    for i in range(12):
        txlog.append(_df(spark, [(1000 + i, "x")]).coalesce(1), path)
    assert txlog.checkpoint_versions(path), "no checkpoint written"
    ks = [r["k"] for r in txlog.read(spark, path).collect()]
    assert 42 not in ks and len(ks) == 99 + 12


def test_changes_reports_mor_deletes_once(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_kv(spark, n=20, parts=2), path)
    v1 = txlog.delete_mor(spark, path, "k IN (3, 11)")["version"]
    ch = txlog.changes(spark, path, from_version=v1 - 1, to_version=v1)
    rows = [(r["k"], r["_change_type"], r["_commit_version"])
            for r in ch.collect()]
    assert sorted(rows) == [(3, "delete", v1), (11, "delete", v1)]
    # a purge afterwards nets to ZERO changes (rows only re-materialize)
    v2 = txlog.purge_dvs(spark, path)["version"]
    assert txlog.changes(spark, path, from_version=v1, to_version=v2).count() == 0
    # full range still reports exactly the two deletes
    full = txlog.changes(spark, path, from_version=v1 - 1, to_version=v2)
    got = [(r["k"], r["_change_type"]) for r in full.collect()]
    assert sorted(got) == [(3, "delete"), (11, "delete")]


def test_restore_resets_deletion_vectors(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_kv(spark), path)
    v0 = txlog.current_version(path)
    txlog.delete_mor(spark, path, "k < 50")
    assert txlog.read(spark, path).count() == 50
    txlog.restore(path, v0)
    assert txlog.read(spark, path).count() == 100, "restore must clear DVs"
    assert txlog.snapshot_dvs(path) == {}


def test_clone_carries_deletion_vectors(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    txlog.create(_kv(spark), src)
    txlog.delete_mor(spark, src, "k >= 90")
    txlog.clone(src, dst)
    assert txlog.read(spark, dst).count() == 90, "clone resurrected MOR rows"


# --- round 7: conflict reconciliation -------------------------------------


def _race_one_commit(monkeypatch_commit, racer):
    """Install a commit wrapper that runs ``racer`` once before the
    first commit attempt lands, simulating a concurrent winner."""


def test_cow_delete_reconciles_past_concurrent_append(spark, tmp_path):
    """delete vs append on disjoint files: the delete finished its
    rewrite against base, an append lands first — the delete must
    auto-retry and succeed (WriteSerializable), not abort."""
    path = str(tmp_path / "t")
    txlog.create(_kv(spark), path)
    real = txlog.commit
    state = {"raced": False}

    def racing(p, adds, removes, **kw):
        if not state["raced"] and kw.get("operation") == "delete":
            state["raced"] = True
            txlog.append(_df(spark, [(500, "zz")]).coalesce(1), path)
        return real(p, adds, removes, **kw)

    txlog.commit = racing
    try:
        res = txlog.delete(spark, path, "k < 10")
    finally:
        txlog.commit = real
    assert res["rows_deleted"] == 10
    ks = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert ks[0] == 10 and 500 in ks, "both the append and the delete landed"


def test_cow_vs_cow_on_same_files_aborts(spark, tmp_path):
    """Two COW rewrites of overlapping files: the loser's survivors are
    stale — it must raise TxLogConflict, never silently resurrect."""
    path = str(tmp_path / "t")
    txlog.create(_kv(spark, parts=1), path)  # one file: guaranteed overlap
    real = txlog.commit
    state = {"raced": False}

    def racing(p, adds, removes, **kw):
        if not state["raced"] and kw.get("operation") == "delete":
            state["raced"] = True
            txlog.update(spark, path, "k = 99", {"v": "'CHANGED'"})
        return real(p, adds, removes, **kw)

    txlog.commit = racing
    try:
        with pytest.raises(txlog.TxLogConflict, match="non-reconcilable"):
            txlog.delete(spark, path, "k < 10")
    finally:
        txlog.commit = real
    # the winner's effect is intact; the loser changed nothing
    rows = {r["k"]: r["v"] for r in txlog.read(spark, path).collect()}
    assert rows[99] == "CHANGED" and len(rows) == 100


def test_mor_delete_vs_mor_delete_same_file_aborts_loser(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_kv(spark, parts=1), path)
    real = txlog.commit
    state = {"raced": False}

    def racing(p, adds, removes, **kw):
        if not state["raced"] and kw.get("operation") == "delete_mor":
            state["raced"] = True
            txlog.delete_mor(spark, path, "k = 1")
        return real(p, adds, removes, **kw)

    txlog.commit = racing
    try:
        with pytest.raises(txlog.TxLogConflict, match="non-reconcilable"):
            txlog.delete_mor(spark, path, "k = 2")
    finally:
        txlog.commit = real
    assert txlog.read(spark, path).count() == 99  # only the winner's delete


# --- round 7: CAS (object-store) commit backend ---------------------------


def test_cas_backend_roundtrip_and_clean_loss(spark, tmp_path):
    path = str(tmp_path / "t")
    b = txlog.CASCommitBackend()
    with txlog.use_backend(b):
        txlog.create(_df(spark, [(1, "a")]), path)
        b.faults.append("lose")
        with pytest.raises(txlog.TxLogConflict):
            txlog.append(_df(spark, [(2, "b")]), path)
        txlog.append(_df(spark, [(3, "c")]), path)
        got = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert got == [1, 3]
    # the table remains readable through the DEFAULT backend too
    assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [1, 3]


def test_cas_ambiguous_after_store_resolves_to_success(spark, tmp_path):
    """The put landed but the response was lost: read-back must decide
    SUCCESS (the commit is visible), not raise or double-commit."""
    path = str(tmp_path / "t")
    b = txlog.CASCommitBackend()
    with txlog.use_backend(b):
        txlog.create(_df(spark, [(1, "a")]), path)
        b.faults.append("fail_after_store")
        v = txlog.append(_df(spark, [(2, "b")]), path)
        assert v == 1
        assert txlog.current_version(path) == 1
        assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [1, 2]


def test_cas_ambiguous_before_store_retries_cleanly(spark, tmp_path):
    """The put never landed: read-back finds nothing and ONE clean
    retry commits (the conditional put still serializes winners)."""
    path = str(tmp_path / "t")
    b = txlog.CASCommitBackend()
    with txlog.use_backend(b):
        txlog.create(_df(spark, [(1, "a")]), path)
        b.faults.append("fail_before_store")
        v = txlog.append(_df(spark, [(2, "b")]), path)
        assert v == 1 and b.puts == 2  # create + the successful retry
        assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [1, 2]


def test_threaded_cow_delete_races_appends(spark, tmp_path):
    """REAL concurrency (not a scripted race): three appenders and one
    COW delete run in parallel threads; reconciliation must land all
    four commits — the appends because they have no read set, the
    delete because appends only ADD files — and the final table must
    hold exactly base − deleted + appended rows, regardless of the
    interleaving the scheduler picks."""
    import threading

    path = str(tmp_path / "t")
    txlog.create(_kv(spark, n=200, parts=4), path)
    errs: list[Exception] = []

    def appender(i: int) -> None:
        try:
            txlog.append_with_retry(
                _df(spark, [(10_000 + i, "a")]).coalesce(1), path
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def deleter() -> None:
        try:
            txlog.delete(spark, path, "k < 50")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [
        threading.Thread(target=appender, args=(i,)) for i in range(3)
    ] + [threading.Thread(target=deleter)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert txlog.current_version(path) == 4
    ks = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert len(ks) == 200 - 50 + 3
    assert ks[0] == 50 and ks[-1] == 10_002


def test_threaded_mor_deletes_on_disjoint_files(spark, tmp_path):
    """Two DV deletes racing on DISJOINT file sets (range layout keeps
    the key bands in different files): both reconcile — an intervening
    vector change only conflicts when it touches files the loser
    read. With prune bands supplied, neither reads the other's files."""
    import threading

    path = str(tmp_path / "t")
    txlog.create(_kv(spark, n=200, parts=4), path)
    errs: list[Exception] = []

    def mor(lo: int, hi: int) -> None:
        try:
            txlog.delete_mor(
                spark, path, f"k >= {lo} AND k < {hi}", prune=("k", lo, hi - 1)
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=mor, args=(0, 10))
    t2 = threading.Thread(target=mor, args=(190, 200))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    ks = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert len(ks) == 180 and ks[0] == 10 and ks[-1] == 189


def test_vacuum_orphans_reclaims_lost_race_debris(spark, tmp_path):
    """A writer that lost the version race leaves a committed-by-nobody
    data group behind; vacuum() can never reach it (it enumerates from
    the log), vacuum_orphans() must — but only past the in-flight age
    guard, and never a logged file."""
    import os as _os

    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]).coalesce(1), path)
    # two racers: both write, one loses the commit
    files_w, stats_w = txlog._write_data(_df(spark, [(2, "b")]), path)
    files_l, _ = txlog._write_data(_df(spark, [(3, "c")]), path)
    txlog.commit(path, files_w, [], expected_version=0, stats=stats_w)
    with pytest.raises(txlog.TxLogConflict):
        txlog.commit(path, files_l, [], expected_version=0)
    # fresh orphans are protected by the age guard
    assert txlog.vacuum_orphans(path, min_age_s=3600) == []
    # age them and reclaim; dry run first, then for real
    for rel in files_l:
        p = _os.path.join(path, rel)
        _os.utime(p, (1, 1))
    would = txlog.vacuum_orphans(path, min_age_s=10, dry_run=True)
    assert sorted(would) == sorted(files_l)
    assert all(_os.path.exists(_os.path.join(path, r)) for r in files_l)
    done = txlog.vacuum_orphans(path, min_age_s=10)
    assert sorted(done) == sorted(files_l)
    assert not any(_os.path.exists(_os.path.join(path, r)) for r in files_l)
    # committed data untouched; table reads fine
    assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [1, 2]


# --- round 8: CAS fault-model depth + ADVICE r7 regressions ----------------


def test_cas_delayed_apply_put_wins_over_its_own_retry(spark, tmp_path):
    """ADVICE r7 (txlog.py ambiguity resolution): a timed-out PUT still
    in flight inside the store is applied AFTER the read-back saw
    nothing — the retry's conditional put then loses to the writer's
    OWN first attempt. The committer must recognize its payload at the
    target as a win (one commit, one version, one CDC record), not
    raise TxLogConflict and double-commit at v+1."""
    path = str(tmp_path / "t")
    b = txlog.CASCommitBackend()
    with txlog.use_backend(b):
        txlog.create(_df(spark, [(1, "a")]), path)
        b.faults.append("fail_then_apply_later")
        v = txlog.append(_df(spark, [(2, "b")]), path)
        assert v == 1
        assert txlog.current_version(path) == 1
        assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [1, 2]
        # CDC reports the logical append exactly once
        cdc = txlog.changes(spark, path, from_version=0).collect()
        assert [(r["k"], r["_change_type"], r["_commit_version"]) for r in cdc] == [
            (2, "insert", 1)
        ]


def test_cas_torn_retry_ambiguous_twice_still_resolves(spark, tmp_path):
    """Torn-retry sequence: the first put never lands (ambiguous), the
    RETRY lands but its response is lost too (ambiguous again). The
    second read-back must decide SUCCESS from the payload match."""
    path = str(tmp_path / "t")
    b = txlog.CASCommitBackend()
    with txlog.use_backend(b):
        txlog.create(_df(spark, [(1, "a")]), path)
        b.faults.extend(["fail_before_store", "fail_after_store"])
        v = txlog.append(_df(spark, [(2, "b")]), path)
        assert v == 1
        assert txlog.current_version(path) == 1
        assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [1, 2]


def test_cas_delayed_apply_lost_race_is_still_a_clean_conflict(spark, tmp_path):
    """Same delayed-apply window, but another writer's commit (not our
    own payload) is what the retry finds: TxLogConflict must still
    propagate so the optimistic loop re-resolves against v."""
    path = str(tmp_path / "t")
    b = txlog.CASCommitBackend()
    with txlog.use_backend(b):
        txlog.create(_df(spark, [(1, "a")]), path)
        files_w, stats_w = txlog._write_data(_df(spark, [(2, "b")]), path)
        files_l, _ = txlog._write_data(_df(spark, [(3, "c")]), path)
        txlog.commit(path, files_w, [], expected_version=0, stats=stats_w)
        with pytest.raises(txlog.TxLogConflict):
            txlog.commit(path, files_l, [], expected_version=0)
        assert txlog.current_version(path) == 1


def test_bloom_blob_without_format_version_never_skips():
    """ADVICE r7: blooms persisted before _bloom_canon carry bit
    positions from str(value) hashing and no "v" field — probing them
    with the current hashes could skip files that DO contain matches.
    Unversioned (or future-versioned) blobs must answer 'maybe'."""
    import base64

    legacy = {"m": 64, "k": 3, "b64": base64.b64encode(bytes(8)).decode()}
    assert txlog._bloom_maybe_contains(legacy, 5) is True  # all-zero bits!
    future = dict(legacy, v=txlog._BLOOM_FORMAT + 1)
    assert txlog._bloom_maybe_contains(future, 5) is True
    # current-format blobs still prune (all-zero bits -> definite no)
    current = dict(legacy, v=txlog._BLOOM_FORMAT)
    assert txlog._bloom_maybe_contains(current, 5) is False


def test_written_blooms_carry_the_current_format_version(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]).coalesce(1), path, bloom_columns=("k",))
    stats = txlog.snapshot_stats(path)
    blooms = [st["__bloom__"]["k"] for st in stats.values() if "__bloom__" in st]
    assert blooms and all(b["v"] == txlog._BLOOM_FORMAT for b in blooms)


def test_vacuum_orphans_respects_commit_racing_the_unlink(spark, tmp_path, monkeypatch):
    """ADVICE r7: a slow writer whose parquet landed > min_age_s before
    its commit must NOT be reclaimed when the commit lands between the
    candidate scan and the unlink loop — the delete-time re-scan drops
    newly referenced files so the commit never publishes dangling
    references."""
    import os as _os

    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]).coalesce(1), path)
    files, stats = txlog._write_data(_df(spark, [(2, "b")]).coalesce(1), path)
    for rel in files:
        _os.utime(_os.path.join(path, rel), (1, 1))  # aged past any guard
    real = txlog.read_log
    state = {"committed": False}

    def racy(p, version=None):
        entries = real(p, version)
        if not state["committed"]:
            # the slow writer commits AFTER the candidate scan returned
            state["committed"] = True
            txlog.commit(p, files, [], expected_version=0, stats=stats)
        return entries

    monkeypatch.setattr(txlog, "read_log", racy)
    assert txlog.vacuum_orphans(path, min_age_s=10) == []
    monkeypatch.setattr(txlog, "read_log", real)
    assert all(_os.path.exists(_os.path.join(path, r)) for r in files)
    assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [1, 2]


# --- round 8: reader pinning vs vacuum -------------------------------------


def test_pin_keeps_snapshot_through_optimize_and_vacuum(spark, tmp_path):
    """The guarantee in the module header: a pinned version V never
    loses a file V references, no matter how aggressive the retention;
    releasing the pin hands the files back to vacuum (so the pin is
    proven load-bearing, not vacuously green)."""
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), path)
    pin_id = txlog.pin(path)  # pin v0 (current) before reading
    assert txlog.pinned_versions(path) == {pin_id: 0}
    v0_files = txlog.snapshot_files(path, 0)
    txlog.overwrite(_df(spark, [(9, "z")]).coalesce(1), path)
    txlog.optimize(spark, path)
    gone = txlog.vacuum(path, keep_versions=1)
    assert not set(gone) & set(v0_files)
    got = sorted(r["k"] for r in txlog.read(spark, path, version=0).collect())
    assert got == [1, 2]
    # release: vacuum now reclaims v0 (and the intermediate overwrite)
    txlog.unpin(path, pin_id)
    txlog.unpin(path, pin_id)  # idempotent
    gone2 = txlog.vacuum(path, keep_versions=1)
    assert set(v0_files) <= set(gone2)
    assert not any(os.path.exists(os.path.join(path, f)) for f in v0_files)


def test_pin_validates_version_bounds(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]), path)
    with pytest.raises(ValueError):
        txlog.pin(path, 5)
    with pytest.raises(ValueError):
        txlog.pin(path, -1)
    with pytest.raises(FileNotFoundError):
        txlog.pin(str(tmp_path / "missing"))


def test_pin_registered_during_vacuum_is_honored_at_delete_time(
    spark, tmp_path, monkeypatch
):
    """A reader that pins between vacuum's keep-set resolution and its
    unlink loop must still be protected — the delete-time pin re-read
    (the same discipline as vacuum_orphans' log re-scan)."""
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]).coalesce(1), path)
    v0_files = txlog.snapshot_files(path, 0)
    txlog.overwrite(_df(spark, [(9, "z")]).coalesce(1), path)
    real = txlog.read_log
    state = {"pinned": False}

    def racy(p, version=None):
        # read_log runs AFTER the keep-set pass in vacuum(); pin now,
        # simulating a reader racing the reclamation
        if not state["pinned"]:
            state["pinned"] = True
            txlog.pin(p, 0)
        return real(p, version)

    monkeypatch.setattr(txlog, "read_log", racy)
    gone = txlog.vacuum(path, keep_versions=1)
    monkeypatch.setattr(txlog, "read_log", real)
    assert not set(gone) & set(v0_files)
    got = sorted(r["k"] for r in txlog.read(spark, path, version=0).collect())
    assert got == [1]


def test_pinned_reader_model_random_histories(spark, tmp_path):
    """Model check over random histories: with pins live, EVERY pinned
    version reads back exactly what the Python model says it held, at
    every step, across appends/overwrites/optimizes and keep_versions=1
    vacuums interleaved at random (seeded)."""
    import random

    rng = random.Random(21)
    for trial in range(2):
        path = str(tmp_path / f"p{trial}")
        nxt = iter(range(1, 10_000))
        first = [(next(nxt), "x"), (next(nxt), "x")]
        txlog.create(_df(spark, first).coalesce(1), path)
        model = {0: sorted(k for k, _ in first)}
        pins: dict[str, int] = {}
        for _step in range(10):
            op = rng.choice(
                ["append", "overwrite", "optimize", "vacuum", "pin", "unpin"]
            )
            v = txlog.current_version(path)
            if op == "append":
                rows = [(next(nxt), "x")]
                txlog.append(_df(spark, rows).coalesce(1), path)
                model[v + 1] = sorted(model[v] + [k for k, _ in rows])
            elif op == "overwrite":
                rows = [(next(nxt), "x")]
                txlog.overwrite(_df(spark, rows).coalesce(1), path)
                model[v + 1] = sorted(k for k, _ in rows)
            elif op == "optimize":
                txlog.optimize(spark, path)
                model[v + 1] = model[v]
            elif op == "vacuum":
                txlog.vacuum(path, keep_versions=1)
            elif op == "pin":
                # the documented discipline: pin the CURRENT version
                # before reading (older versions may already be gone)
                pins[txlog.pin(path)] = v
            elif pins:  # unpin a random live pin
                pid = rng.choice(sorted(pins))
                txlog.unpin(path, pid)
                del pins[pid]
            for pv in set(pins.values()):
                got = sorted(
                    r["k"]
                    for r in txlog.read(spark, path, version=pv).collect()
                )
                assert got == model[pv], (trial, _step, pv, got, model[pv])
        # releasing every pin returns the table to plain retention
        for pid in list(pins):
            txlog.unpin(path, pid)
        txlog.vacuum(path, keep_versions=1)
        cur = txlog.current_version(path)
        got = sorted(r["k"] for r in txlog.read(spark, path).collect())
        assert got == model[cur]


def test_threaded_pinned_reader_survives_concurrent_churn(spark, tmp_path):
    """REAL concurrency: a reader pins the current version and keeps
    re-reading it while a churner thread appends, OPTIMIZEs, and
    vacuums with keep_versions=1 in a loop. The pinned snapshot must
    read identically throughout; after release, the same vacuum DOES
    reclaim it (the pin was what kept it alive)."""
    import threading

    path = str(tmp_path / "t")
    txlog.create(_kv(spark, n=60, parts=3), path)
    errs: list[Exception] = []
    pinned_evt = threading.Event()
    churn_done = threading.Event()
    v0_files = txlog.snapshot_files(path, 0)

    def reader() -> None:
        try:
            with txlog.pinned_snapshot(path) as v:
                expect = sorted(
                    r["k"] for r in txlog.read(spark, path, version=v).collect()
                )
                pinned_evt.set()
                deadline = 120.0
                while not churn_done.wait(timeout=0.05) and deadline > 0:
                    got = sorted(
                        r["k"]
                        for r in txlog.read(spark, path, version=v).collect()
                    )
                    assert got == expect
                    deadline -= 0.05
                got = sorted(
                    r["k"] for r in txlog.read(spark, path, version=v).collect()
                )
                assert got == expect
        except Exception as e:  # noqa: BLE001
            errs.append(e)
        finally:
            pinned_evt.set()

    def churner() -> None:
        try:
            assert pinned_evt.wait(timeout=30)
            for i in range(5):
                txlog.append_with_retry(
                    _df(spark, [(10_000 + i, "a")]).coalesce(1), path
                )
                txlog.optimize(spark, path)
                txlog.vacuum(path, keep_versions=1)
        except Exception as e:  # noqa: BLE001
            errs.append(e)
        finally:
            churn_done.set()

    t1 = threading.Thread(target=reader)
    t2 = threading.Thread(target=churner)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    assert all(os.path.exists(os.path.join(path, f)) for f in v0_files)
    # the reader unpinned on exit: reclamation now proceeds
    gone = txlog.vacuum(path, keep_versions=1)
    assert set(v0_files) <= set(gone)


# --- round 8: idempotent writes (SetTransaction watermarks) -----------------


def test_append_idempotent_applies_once_and_noops_replay(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(1, "a")]).coalesce(1), path)
    v, applied = txlog.append_idempotent(
        _df(spark, [(2, "b")]).coalesce(1), path, "job", 0
    )
    assert (v, applied) == (1, True)
    # exact replay of the same writer version: no-op
    v2, applied2 = txlog.append_idempotent(
        _df(spark, [(2, "b")]).coalesce(1), path, "job", 0
    )
    assert (v2, applied2) == (1, False)
    # the writer's NEXT version applies; a different app is independent
    v3, applied3 = txlog.append_idempotent(
        _df(spark, [(3, "c")]).coalesce(1), path, "job", 1
    )
    v4, applied4 = txlog.append_idempotent(
        _df(spark, [(4, "d")]).coalesce(1), path, "other", 0
    )
    assert applied3 and applied4 and (v3, v4) == (2, 3)
    assert txlog.last_txn_version(path, "job") == 1
    assert txlog.last_txn_version(path, "other") == 0
    assert txlog.last_txn_version(path, "never") == -1
    ks = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert ks == [1, 2, 3, 4]


def test_txn_watermarks_survive_checkpoint_consolidation(spark, tmp_path):
    """Watermarks must resolve from checkpoint + tail: after crossing
    a CHECKPOINT_INTERVAL boundary the checkpoint's txns map (not a
    full-log replay) carries the old watermark."""
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(0, "z")]).coalesce(1), path)
    txlog.append_idempotent(_df(spark, [(1, "a")]).coalesce(1), path, "job", 7)
    # push past the checkpoint interval with plain appends
    for i in range(txlog.CHECKPOINT_INTERVAL + 1):
        txlog.append(_df(spark, [(100 + i, "x")]).coalesce(1), path)
    assert txlog.checkpoint_versions(path), "expected a checkpoint"
    import json as _json

    cp = _json.load(
        open(txlog._checkpoint_file(path, txlog.checkpoint_versions(path)[-1]))
    )
    assert cp["txns"] == {"job": 7}
    assert txlog.last_txn_version(path, "job") == 7
    # replay of writer version 7 after consolidation: still a no-op
    _, applied = txlog.append_idempotent(
        _df(spark, [(1, "a")]).coalesce(1), path, "job", 7
    )
    assert applied is False


def test_pre_txn_checkpoint_forces_full_replay_not_a_miss(spark, tmp_path):
    """A checkpoint written before the txn feature (no txns field)
    must NOT be trusted as 'no watermarks': resolution falls back to
    full-log replay and still finds the old watermark."""
    import json as _json

    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(0, "z")]).coalesce(1), path)
    txlog.append_idempotent(_df(spark, [(1, "a")]).coalesce(1), path, "job", 3)
    for i in range(txlog.CHECKPOINT_INTERVAL + 1):
        txlog.append(_df(spark, [(100 + i, "x")]).coalesce(1), path)
    cpv = txlog.checkpoint_versions(path)[-1]
    cpf = txlog._checkpoint_file(path, cpv)
    cp = _json.load(open(cpf))
    del cp["txns"]  # simulate a pre-txn checkpoint
    with open(cpf, "w") as f:
        f.write(_json.dumps(cp))
    assert txlog.last_txn_version(path, "job") == 3
    _, applied = txlog.append_idempotent(
        _df(spark, [(1, "a")]).coalesce(1), path, "job", 3
    )
    assert applied is False


def test_threaded_same_batch_replicas_land_exactly_once(spark, tmp_path):
    """Two writers replaying the SAME (app, version) — the restarted-
    sink race — must land the batch exactly once: one applies, the
    other no-ops after losing the OCC race, and the table holds one
    copy of the rows."""
    import threading

    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(0, "z")]).coalesce(1), path)
    results: list[tuple[int, bool]] = []
    errs: list[Exception] = []

    def writer() -> None:
        try:
            results.append(
                txlog.append_idempotent(
                    _df(spark, [(1, "a"), (2, "b")]).coalesce(1),
                    path,
                    "sink",
                    0,
                )
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=writer) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert sorted(a for _, a in results) in ([False, True], [True])
    ks = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert ks == [0, 1, 2]
    assert txlog.last_txn_version(path, "sink") == 0


def test_idempotent_append_model_random_histories(spark, tmp_path):
    """Model check: a random interleaving of fresh writer versions and
    REPLAYS (including replays carrying a DIFFERENT payload — the
    poisoned-retry case: a no-op must discard the payload, not apply
    it) across two writer apps must leave the table holding exactly
    the model's row set, with per-app watermarks at the model's."""
    import random

    rng = random.Random(5)
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(0, "z")]).coalesce(1), path)
    expected = {0}
    marks: dict[str, int] = {}
    nxt = iter(range(1, 10_000))
    for _step in range(14):
        app = rng.choice(["a", "b"])
        k = next(nxt)
        if marks.get(app, -1) >= 0 and rng.random() < 0.45:
            ver = rng.randint(0, marks[app])  # replay, fresh payload
            _, applied = txlog.append_idempotent(
                _df(spark, [(k, "x")]).coalesce(1), path, app, ver
            )
            assert applied is False
        else:
            ver = marks.get(app, -1) + 1
            _, applied = txlog.append_idempotent(
                _df(spark, [(k, "x")]).coalesce(1), path, app, ver
            )
            assert applied is True
            expected.add(k)
            marks[app] = ver
        got = {r["k"] for r in txlog.read(spark, path).collect()}
        assert got == expected, (_step, got - expected, expected - got)
    for app, ver in marks.items():
        assert txlog.last_txn_version(path, app) == ver


def test_merge_with_txn_noops_replay_even_with_different_payload(spark, tmp_path):
    """Idempotent MERGE: the same (app, version) replayed — even with
    a poisoned/different change set — must no-op with applied=False,
    leaving the first application's result untouched."""
    path = str(tmp_path / "t")
    txlog.create(_kv(spark, n=20, parts=2), path)
    ch = spark.createDataFrame(
        [(1, "one", "U"), (100, "hundred", "I"), (2, None, "D")],
        "k long, v string, op string",
    )
    r1 = txlog.merge(spark, path, ch, on=["k"], op_col="op", txn=("cdc", 0))
    assert r1["applied"] is True and r1["rows_deleted"] == 1
    poisoned = spark.createDataFrame(
        [(5, "POISON", "U")], "k long, v string, op string"
    )
    r2 = txlog.merge(
        spark, path, poisoned, on=["k"], op_col="op", txn=("cdc", 0)
    )
    assert r2["applied"] is False
    rows = {r["k"]: r["v"] for r in txlog.read(spark, path).collect()}
    assert rows[1] == "one" and rows[100] == "hundred"
    assert 2 not in rows and rows[5] == "10"  # untouched by the poison
    # next version applies; watermark advances
    r3 = txlog.merge(
        spark, path,
        spark.createDataFrame([(3, "three", "U")], "k long, v string, op string"),
        on=["k"], op_col="op", txn=("cdc", 1),
    )
    assert r3["applied"] is True
    assert txlog.last_txn_version(path, "cdc") == 1


def test_threaded_same_merge_replicas_apply_exactly_once(spark, tmp_path):
    """Two replicas racing the SAME (app, version) merge: exactly one
    applies; the loser re-reads the watermark after the conflict and
    no-ops instead of erroring or double-applying."""
    import threading

    path = str(tmp_path / "t")
    txlog.create(_kv(spark, n=40, parts=2), path)
    ch = spark.createDataFrame(
        [(1, "one", "U"), (100, "hundred", "I")], "k long, v string, op string"
    )
    results: list[dict] = []
    errs: list[Exception] = []

    def replica() -> None:
        try:
            results.append(
                txlog.merge(spark, path, ch, on=["k"], op_col="op", txn=("cdc", 0))
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=replica) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert sorted(r["applied"] for r in results) in ([False, True], [True])
    rows = {r["k"]: r["v"] for r in txlog.read(spark, path).collect()}
    assert rows[1] == "one" and rows[100] == "hundred"
    assert len(rows) == 41  # 40 base + 1 insert, exactly once


# --- round 8 review findings: regressions --------------------------------


def test_merge_txn_insert_only_race_lands_exactly_once(spark, tmp_path):
    """Review finding: an INSERT-ONLY change set (touched files = [])
    is reconcilable by _reconcile_base's rules, so without the
    watermark stop_retry hook the losing replica would silently retry
    past its twin's commit and double-apply the inserts. Scripted
    race: the twin lands the same change set between the loser's
    pre-check and its commit."""
    path = str(tmp_path / "t")
    txlog.create(_kv(spark, n=20, parts=2), path)
    ch = spark.createDataFrame(
        [(100, "hundred", "I"), (101, "hundred-one", "I")],
        "k long, v string, op string",
    )
    real_commit = txlog.commit
    state = {"raced": False}

    def racing(p, adds, removes, **kw):
        if not state["raced"] and kw.get("operation") == "merge":
            state["raced"] = True
            txlog.commit = real_commit
            try:
                r = txlog.merge(
                    spark, path, ch, on=["k"], op_col="op", txn=("cdc", 0)
                )
                assert r["applied"] is True
            finally:
                txlog.commit = racing
        return real_commit(p, adds, removes, **kw)

    txlog.commit = racing
    try:
        r2 = txlog.merge(spark, path, ch, on=["k"], op_col="op", txn=("cdc", 0))
    finally:
        txlog.commit = real_commit
    assert r2["applied"] is False
    ks = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert len(ks) == 22 and ks[-2:] == [100, 101]  # inserted exactly once


def test_commit_undecidable_double_inflight_raises_ambiguous(spark, tmp_path):
    """Review finding: when the ambiguity RETRY is itself still in
    flight (both puts delayed), commit must surface CommitAmbiguous —
    NOT TxLogConflict, whose contract invites a blind re-commit of the
    same files at v+1 while the delayed put can still land at v
    (double-apply). The delayed put must then land the batch exactly
    once."""
    path = str(tmp_path / "t")
    b = txlog.CASCommitBackend()
    with txlog.use_backend(b):
        txlog.create(_df(spark, [(1, "a")]), path)
        b.faults.extend(["fail_then_apply_later", "fail_then_apply_later"])
        with pytest.raises(txlog.CommitAmbiguous):
            txlog.append(_df(spark, [(2, "b")]), path)
        # the in-flight put lands before the store's next serialized
        # put: the ambiguous batch commits at v1 exactly once, and the
        # next writer's retry loop lands AFTER it
        txlog.append_with_retry(_df(spark, [(3, "c")]), path)
        assert txlog.current_version(path) == 2
        ks = sorted(r["k"] for r in txlog.read(spark, path).collect())
        assert ks == [1, 2, 3]


# --- round 10: TOCTOU interleaving regressions (VERDICT r9 item 3) ----------
# The r9 fixes anchored the SetTransaction watermark checks to the
# commit's OCC base (txlog.py append_idempotent / merge). These tests
# pin BOTH halves of each fixed race deterministically, so a refactor
# cannot silently reopen them:
#   * twin lands between the advisory FAST-PATH check and the base
#     capture  -> the base-anchored re-check must see it and no-op;
#   * twin lands between the base-anchored check and the COMMIT
#     (staged via the commit-backend seam) -> the publish loses, and
#     the retry must re-read the watermark at the new base and no-op
#     instead of re-committing (the pre-r9 double-apply).


class _TwinOnPublish(txlog.LocalFSCommitBackend):
    """Commit-backend seam that stages the check-to-commit race: the
    FIRST publish whose payload carries ``marker`` first yields to
    ``twin`` (the racing replica's full write through the txlog API),
    so the twin's commit lands AFTER the caller's base-anchored
    watermark check and BEFORE its own put — which therefore loses.
    ``injected`` is set before the twin runs, so the twin's own
    publishes (same marker) pass straight through."""

    def __init__(self, marker: str, twin) -> None:
        self._marker = marker
        self._twin = twin
        self.injected = False

    def publish(self, target: str, payload: str) -> bool:
        if not self.injected and self._marker in payload:
            self.injected = True
            self._twin()
        return super().publish(target, payload)


def test_append_idempotent_twin_between_check_and_commit(spark, tmp_path):
    """append_idempotent: twin replica commits the SAME (app, version)
    after the loser's base-anchored check, before its publish. The
    loser's put conflicts; the retry must no-op at the new base —
    with the pre-r9 unanchored check the retry re-committed and the
    batch landed twice."""
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(0, "z")]).coalesce(1), path)
    batch = [(1, "a"), (2, "b")]

    def twin() -> None:
        v, applied = txlog.append_idempotent(
            _df(spark, batch).coalesce(1), path, "sink", 0
        )
        assert applied is True

    b = _TwinOnPublish('"operation": "append-txn-sink-0"', twin)
    with txlog.use_backend(b):
        v, applied = txlog.append_idempotent(
            _df(spark, batch).coalesce(1), path, "sink", 0
        )
    assert b.injected, "the race was never staged"
    assert applied is False
    ks = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert ks == [0, 1, 2]  # exactly once
    assert txlog.last_txn_version(path, "sink") == 0


def test_append_idempotent_twin_between_fastpath_and_base(
    spark, tmp_path, monkeypatch
):
    """append_idempotent: twin replica commits between the advisory
    fast-path watermark read and the base capture (the exact ADVICE r8
    window). The base-anchored loop check (txlog.append_idempotent's
    _txns_at-at-base) must see the twin's watermark and no-op."""
    path = str(tmp_path / "t")
    txlog.create(_df(spark, [(0, "z")]).coalesce(1), path)
    batch = [(1, "a"), (2, "b")]
    real = txlog.last_txn_version
    state = {"fired": False}

    def hooked(p: str, app: str) -> int:
        res = real(p, app)  # the stale pre-twin read
        if not state["fired"] and app == "sink":
            state["fired"] = True  # before the twin: no recursion
            _, applied = txlog.append_idempotent(
                _df(spark, batch).coalesce(1), p, "sink", 0
            )
            assert applied is True
        return res

    monkeypatch.setattr(txlog, "last_txn_version", hooked)
    v, applied = txlog.append_idempotent(
        _df(spark, batch).coalesce(1), path, "sink", 0
    )
    monkeypatch.setattr(txlog, "last_txn_version", real)
    assert state["fired"], "the race was never staged"
    assert applied is False
    ks = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert ks == [0, 1, 2]  # exactly once
    assert txlog.last_txn_version(path, "sink") == 0


def test_merge_txn_twin_between_check_and_commit(spark, tmp_path):
    """merge(txn): twin replica applies the SAME change set after the
    loser's base-anchored check, before its publish — INSERT-ONLY on
    purpose: touched=[] and removes=[] make the loser's commit
    reconcilable by _reconcile_base's rules, so ONLY the stop_retry
    watermark hook stands between the retry and a double-apply (an
    update-containing change set would be caught by read-set
    invalidation regardless, which would mask a broken hook)."""
    path = str(tmp_path / "t")
    txlog.create(_kv(spark, n=20, parts=2), path)
    ch = spark.createDataFrame(
        [(100, "hundred", "I"), (101, "hundred-one", "I")],
        "k long, v string, op string",
    )

    def twin() -> None:
        r = txlog.merge(spark, path, ch, on=["k"], op_col="op", txn=("cdc", 0))
        assert r["applied"] is True

    b = _TwinOnPublish('"operation": "merge"', twin)
    with txlog.use_backend(b):
        r = txlog.merge(spark, path, ch, on=["k"], op_col="op", txn=("cdc", 0))
    assert b.injected, "the race was never staged"
    assert r["applied"] is False
    rows = {row["k"]: row["v"] for row in txlog.read(spark, path).collect()}
    assert rows[100] == "hundred" and rows[101] == "hundred-one"
    assert len(rows) == 22  # 20 base + 2 inserts, exactly once
    assert txlog.last_txn_version(path, "cdc") == 0


def test_merge_txn_twin_between_fastpath_and_base(spark, tmp_path, monkeypatch):
    """merge(txn): twin replica commits between the advisory fast-path
    read and the base capture. The base-anchored re-check
    (txlog.merge's _txns_at-at-base) must see the twin and no-op —
    and the loser here carries a POISONED payload, which must be
    discarded, not applied."""
    path = str(tmp_path / "t")
    txlog.create(_kv(spark, n=20, parts=2), path)
    ch = spark.createDataFrame(
        [(1, "one", "U"), (100, "hundred", "I")],
        "k long, v string, op string",
    )
    poisoned = spark.createDataFrame(
        [(5, "POISON", "U")], "k long, v string, op string"
    )
    real = txlog.last_txn_version
    state = {"fired": False}

    def hooked(p: str, app: str) -> int:
        res = real(p, app)
        if not state["fired"] and app == "cdc":
            state["fired"] = True
            r = txlog.merge(spark, p, ch, on=["k"], op_col="op", txn=("cdc", 0))
            assert r["applied"] is True
        return res

    monkeypatch.setattr(txlog, "last_txn_version", hooked)
    r2 = txlog.merge(
        spark, path, poisoned, on=["k"], op_col="op", txn=("cdc", 0)
    )
    monkeypatch.setattr(txlog, "last_txn_version", real)
    assert state["fired"], "the race was never staged"
    assert r2["applied"] is False
    rows = {row["k"]: row["v"] for row in txlog.read(spark, path).collect()}
    assert rows[1] == "one" and rows[100] == "hundred"
    assert rows[5] == "10"  # untouched by the poison
    assert len(rows) == 21


def test_empty_merge_with_txn_publishes_watermark_only_commit(spark, tmp_path):
    """An empty change set under txn must still CONSUME the writer
    version with a watermark-only commit (adds=[], removes=[]) —
    otherwise a replayed poisoned (non-empty) payload for the same
    writer version would pass the watermark check and mutate data
    (ADVICE r8 low; the r9 fix, previously untested)."""
    import json as _json

    path = str(tmp_path / "t")
    txlog.create(_kv(spark, n=10, parts=1), path)
    before = {(r["k"], r["v"]) for r in txlog.read(spark, path).collect()}
    # a change set that touches nothing: one delete for an absent key
    empty = spark.createDataFrame(
        [(999, None, "D")], "k long, v string, op string"
    )
    r = txlog.merge(spark, path, empty, on=["k"], op_col="op", txn=("cdc", 0))
    assert r["applied"] is True
    assert r["rows_upserted"] == 0 and r["rows_deleted"] == 0
    assert r["version"] == 1
    entry = _json.load(open(txlog._version_file(path, 1)))
    assert entry["adds"] == [] and entry["removes"] == []
    assert entry["txn"] == {"app": "cdc", "version": 0}
    assert txlog.last_txn_version(path, "cdc") == 0
    # the replayed NON-EMPTY payload for the consumed writer version
    # must no-op and leave the data bit-identical
    poisoned = spark.createDataFrame(
        [(1, "POISON", "U")], "k long, v string, op string"
    )
    r2 = txlog.merge(
        spark, path, poisoned, on=["k"], op_col="op", txn=("cdc", 0)
    )
    assert r2["applied"] is False
    after = {(r["k"], r["v"]) for r in txlog.read(spark, path).collect()}
    assert after == before
    # the NEXT writer version still applies normally
    r3 = txlog.merge(
        spark,
        path,
        spark.createDataFrame(
            [(100, "hundred", "I")], "k long, v string, op string"
        ),
        on=["k"],
        op_col="op",
        txn=("cdc", 1),
    )
    assert r3["applied"] is True
    assert txlog.last_txn_version(path, "cdc") == 1


# --- commit_epoch: the one exactly-once epoch commit ------------------------


def _epoch_tables(spark, tmp_path):
    """Three empty tables and the writes an epoch lands on them: two
    idempotent appends and one idempotent merge."""
    paths = [str(tmp_path / n) for n in ("a", "b", "m")]
    for p in paths:
        txlog.create_empty(_df(spark, []), p)
    writes = [(paths[0], "ea"), (paths[1], "eb"), (paths[2], "em", ["k"])]
    return paths, writes


def _epoch_build(spark, calls, epoch):
    def build():
        calls.append(epoch)
        return [_df(spark, [(epoch, "x")]).coalesce(1)] * 3

    return build


def _wait_for_listener(spark):
    # the status tracker is fed by the listener bus, asynchronously
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def test_commit_epoch_applies_every_write_once(spark, tmp_path):
    paths, writes = _epoch_tables(spark, tmp_path)
    calls = []
    for e in (0, 1):
        landed = txlog.commit_epoch(e, writes, _epoch_build(spark, calls, e))
        assert landed == [True, True, True]
    assert calls == [0, 1]
    assert [txlog.current_version(p) for p in paths] == [2, 2, 2]
    for (p, app, *_) in writes:
        assert txlog.last_txn_version(p, app) == 1
        ks = sorted(r["k"] for r in txlog.read(spark, p).collect())
        assert ks == [0, 1]


def test_commit_epoch_refire_skips_the_build(spark, tmp_path):
    """An in-order re-fire of the last epoch AND a stale out-of-order
    re-fire of an earlier one never call the build and bump no
    version; a partly landed epoch (a crash between its writes) lands
    only the missing write."""
    paths, writes = _epoch_tables(spark, tmp_path)
    calls = []
    for e in (0, 1):
        txlog.commit_epoch(e, writes, _epoch_build(spark, calls, e))
    vers = [txlog.current_version(p) for p in paths]
    for e in (1, 0):
        landed = txlog.commit_epoch(e, writes, _epoch_build(spark, calls, e))
        assert landed == [False, False, False]
    assert calls == [0, 1]
    assert [txlog.current_version(p) for p in paths] == vers
    txlog.append_idempotent(_df(spark, [(2, "x")]).coalesce(1), paths[0], "ea", 2)
    landed = txlog.commit_epoch(2, writes, _epoch_build(spark, calls, 2))
    assert landed == [False, True, True]
    assert [txlog.current_version(p) for p in paths] == [v + 1 for v in vers]


def test_commit_epoch_jobs_keep_the_callers_job_group(spark, tmp_path):
    """Under the caller's job group, a re-fired epoch runs no Spark job
    at all, and a fresh epoch's writes — the ones on pool threads
    included — run every job inside that group: none lands in the
    ungrouped set."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    paths, writes = _epoch_tables(spark, tmp_path)
    calls = []
    group = f"commit-epoch-{os.path.basename(str(tmp_path))}"
    txlog.commit_epoch(0, writes, _epoch_build(spark, calls, 0))
    sc.setJobGroup(group, "commit_epoch test")
    try:
        _wait_for_listener(spark)
        ungrouped = set(tracker.getJobIdsForGroup(None))
        txlog.commit_epoch(0, writes, _epoch_build(spark, calls, 0))
        _wait_for_listener(spark)
        assert tracker.getJobIdsForGroup(group) == []
        txlog.commit_epoch(1, writes, _epoch_build(spark, calls, 1))
        _wait_for_listener(spark)
        assert len(tracker.getJobIdsForGroup(group)) >= 3
        assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert calls == [0, 1]


def test_commit_epoch_owns_the_only_thread_pool():
    """Overlapped writes go through commit_epoch's pool, whose threads
    keep the caller's Spark job group; a plain pool elsewhere would
    drop it. So no module of the package but sources/txlog.py imports
    concurrent.futures."""
    import ast

    import spark_glove_spark

    root = os.path.dirname(spark_glove_spark.__file__)
    offenders = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)
        if rel == os.path.join("sources", "txlog.py"):
            continue
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            else:
                continue
            if any(n.split(".")[0] == "concurrent" for n in names):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, offenders


def test_bq_persisted_serving_equals_in_memory(spark, tmp_path):
    """h16_bq_persisted's contract: the Hamming search served from a
    txlog code-table snapshot must be BYTE-IDENTICAL to the fully
    in-memory h16_bq_portable (packing is stateless and the search is
    exact integer — persistence must not perturb a single row), and
    the phase-1 scan must read the 24-byte code schema, never the
    float vectors (the 32x compression materialized in the plan)."""
    from pyspark.sql import functions as F

    from spark_glove_spark.operators.ann import (
        _BQ_TOPK,
        _bq_packed,
        _bq_search,
        h16_bq_portable,
    )

    sf_dir = "/root/testdata/sf0.001"
    packed, vecs = _bq_packed(spark, sf_dir)
    mid = int(vecs.agg(F.max("vec_id")).collect()[0][0]) // 2
    path = str(tmp_path / "codes")
    txlog.create(packed.where(F.col("vec_id") <= mid), path)
    txlog.append(packed.where(F.col("vec_id") > mid), path)
    codes = txlog.read(spark, path)
    served_df = _bq_search(codes, vecs).where(F.col("rn") <= _BQ_TOPK)
    served = sorted(
        (r["probe_id"], r["vec_id"], r["hamming"], r["num"])
        for r in served_df.collect()
    )
    mem = sorted(
        (r["probe_id"], r["vec_id"], r["hamming"], r["num"])
        for r in h16_bq_portable(spark, sf_dir).collect()
    )
    assert served == mem, "persisted serving diverged from in-memory search"
    # the code-table scan itself carries only the packed words: the
    # persisted-codes FileScan's ReadSchema is the 24-byte row, and no
    # scan in the whole plan reads BOTH codes and embeddings (phase 1
    # touches codes, the rerank fetch touches vectors — never fused)
    plan = served_df._jdf.queryExecution().executedPlan().toString()
    flat = plan.replace(" ", "")
    assert "struct<vec_id:bigint,w_lo:bigint,w_hi:bigint>" in flat, plan[:800]
    assert "w_lo:bigint,w_hi:bigint,embedding" not in flat


def test_nsw_persisted_serving_equals_in_memory(spark, tmp_path):
    """h16_nsw_persisted's contract: beam search over an adjacency
    table read back from a txlog snapshot (full-corpus build, no
    watermark restriction) must equal the in-memory h16_nsw_portable
    row-for-row — identical LCG constants, identical integer dots, so
    the persisted graph serves the exact same frontier."""
    from pyspark.sql import functions as F

    from spark_glove_spark.operators.ann import (
        _PL_SCALE,
        _nsw_edges,
        _nsw_search,
        h16_nsw_portable,
    )
    from spark_glove_spark.sources import parallelized, table

    sf_dir = "/root/testdata/sf0.001"
    e = parallelized(table(spark, sf_dir, "embeddings"))
    qv = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(float(_PL_SCALE)) + F.lit(0.5)),
    )
    base = e.select("vec_id", qv.alias("qv"))
    path = str(tmp_path / "edges")
    txlog.create(_nsw_edges(base), path)
    served = sorted(
        (r["probe_id"], r["vec_id"], r["num"], r["cos_q"])
        for r in _nsw_search(
            spark, sf_dir, edges_in=txlog.read(spark, path).select("src", "dst")
        ).collect()
    )
    mem = sorted(
        (r["probe_id"], r["vec_id"], r["num"], r["cos_q"])
        for r in h16_nsw_portable(spark, sf_dir).collect()
    )
    assert served == mem, "persisted graph serving diverged from in-memory"


def test_hnsw_persisted_serving_equals_in_memory(spark, tmp_path):
    """h16_hnsw_persisted's contract: descent over the three-layer
    adjacency table read back from a txlog snapshot (full-corpus
    build, watermark = max id) must equal the in-memory
    h16_hnsw_portable row-for-row — identical LCG planes, identical
    coarse-to-fine descent, so persistence perturbs nothing."""
    from pyspark.sql import functions as F

    from spark_glove_spark.operators.ann import (
        _HN_DEG_UP,
        _HN_L1_MOD,
        _HN_L2_MOD,
        _HN_P1,
        _HN_T1,
        _HN_T2,
        _NB_DEG,
        _NB_PLANES,
        _PL_SCALE,
        _hn_edge_table,
        _hnsw_search,
        h16_hnsw_portable,
    )
    from spark_glove_spark.sources import parallelized, table

    sf_dir = "/root/testdata/sf0.001"
    e = parallelized(table(spark, sf_dir, "embeddings"))
    qv = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(float(_PL_SCALE)) + F.lit(0.5)),
    )
    base = e.select("vec_id", qv.alias("qv"))
    l1 = F.col("vec_id") % _HN_L1_MOD == 0
    l2 = F.col("vec_id") % _HN_L2_MOD == 0
    e0 = (
        _hn_edge_table(base, 0, _NB_PLANES, _NB_DEG)
        .union(_hn_edge_table(base, 1, _NB_PLANES, _NB_DEG))
        .distinct()
    )
    allE = (
        e0.select(F.lit(0).alias("layer"), "src", "dst")
        .union(
            _hn_edge_table(base, _HN_T1, _HN_P1, _HN_DEG_UP, l1).select(
                F.lit(1).alias("layer"), "src", "dst"
            )
        )
        .union(
            _hn_edge_table(base, _HN_T2, 0, _HN_DEG_UP, l2).select(
                F.lit(2).alias("layer"), "src", "dst"
            )
        )
    )
    path = str(tmp_path / "hnsw_edges")
    txlog.create(allE, path)
    snap = txlog.read(spark, path)
    eds = tuple(
        snap.where(F.col("layer") == i).select("src", "dst") for i in (0, 1, 2)
    )
    served = sorted(
        (r["probe_id"], r["vec_id"], r["num"], r["cos_q"])
        for r in _hnsw_search(spark, sf_dir, edges_in=eds).collect()
    )
    mem = sorted(
        (r["probe_id"], r["vec_id"], r["num"], r["cos_q"])
        for r in h16_hnsw_portable(spark, sf_dir).collect()
    )
    assert served == mem, "persisted hierarchy serving diverged from in-memory"


def test_hnsw_incremental_recall_vs_rebuild(spark):
    """h16_hnsw_incremental's contract (VERDICT r12 item 5): growing
    the hierarchy by epoch-batched search-then-connect INSERTS must
    serve the final corpus with recall comparable to the O(corpus)
    full REBUILD on the same corpus — the insert lane trades graph
    optimality for O(new x beam) maintenance, and this pins how much
    it trades. Also re-asserts the lane's watermark discipline from
    the returned audit: v0 predates every insert, watermarks
    strictly increase, both epochs added edges and nodes."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spark_glove_spark.operators.ann import (
        _NB_TOPK,
        _PL_SCALE,
        _hnsw_search,
        h16_hnsw_incremental,
    )
    from spark_glove_spark.registry import drain_deferred_unpersist
    from spark_glove_spark.sources import parallelized, table

    sf_dir = "/root/testdata/sf0.001"
    rows = {
        r["build_version"]: r
        for r in h16_hnsw_incremental(spark, sf_dir).collect()
    }
    assert rows[0]["watermark"] < rows[1]["watermark"] < rows[2]["watermark"]
    assert rows[1]["new_nodes"] > 0 and rows[2]["new_nodes"] > 0
    assert rows[1]["edge_rows"] > 0 and rows[2]["edge_rows"] > 0
    incr_recall = rows[2]["recall"]
    drain_deferred_unpersist()

    # full-rebuild recall on the same corpus, same probes, same truth
    e = parallelized(table(spark, sf_dir, "embeddings"))
    qv = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(float(_PL_SCALE)) + F.lit(0.5)),
    )
    zero = F.lit(0).cast("long")
    nn = F.aggregate(
        F.transform("qv", lambda x: x * x), zero, lambda a, x: a + x
    )
    base = e.select("vec_id", qv.alias("qv")).withColumn("nn", nn)
    probes = base.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("qv").alias("qp")
    )
    num = F.aggregate(
        F.zip_with("qv", "qp", lambda x, y: x * y), zero, lambda a, x: a + x
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("s").desc(), "vec_id")
    exact = {
        (r["probe_id"], r["vec_id"])
        for r in base.crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            (num.cast("double") / F.sqrt(F.col("nn").cast("double"))).alias("s"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _NB_TOPK)
        .collect()
    }
    rebuilt = {
        (r["probe_id"], r["vec_id"])
        for r in _hnsw_search(spark, sf_dir).collect()
    }
    rebuild_recall = len(rebuilt & exact) / len(exact)
    assert incr_recall >= rebuild_recall - 0.15, (
        f"incremental recall {incr_recall:.2f} trails the full rebuild's "
        f"{rebuild_recall:.2f} by more than the pinned 0.15 budget"
    )
