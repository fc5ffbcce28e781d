"""Structured Streaming operators (SURVEY.md §2.I, §3 EP3, §5.4).

Protocol: the `events` parquet is replayed as a file stream
(availableNow trigger → the stream drains and stops), results land in
a uniquely-named memory sink, and the declared query returns that
table. Because the replay is exhaustive and deterministic, the
streaming result must equal the equivalent batch query — which IS the
DuckDB oracle. That upgrades streaming operators from rows-only to
fully hash-checked (SURVEY §5.4).

Scale notes: file-stream + memory sink are the harness stand-ins for
Kafka + Delta/foreachBatch sinks; the stateful operators (windows,
dedup, applyInPandasWithState) are exactly what runs against an
unbounded source — state lives in the executor StateStore either way.
A1/A6 (real streaming source/sink wiring) is the only part swapped in
production.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_glove_spark.registry import deferred_tempdir

# events schema as the file stream must declare it. The ts column's
# parquet resolution is generator-dependent (sources/tables.py): int64
# TIMESTAMP(NANOS) fixtures arrive as raw longs (legacy conf — Spark 4
# cannot read nanos parquet at all) and are floored to micros with
# integer div; TIMESTAMP(MICROS) fixtures are declared TimestampType
# directly (the reader accepts both UTC-adjusted and NTZ annotations
# into TimestampType; the session TZ is pinned UTC so values agree).
def _events_raw_schema(ts_is_nanos: bool) -> T.StructType:
    ts_type = T.LongType() if ts_is_nanos else T.TimestampType()
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _ts_is_nanos(path: str) -> bool:
    """Peek at parquet footers (driver-side, metadata only) to learn
    the ts resolution the stream must declare. Guards (ADVICE r2):
    a non-timestamp ts (plain int64 fixture) is treated as nanos to
    match the legacy nanosAsLong conf instead of raising
    AttributeError on ``.unit``, and for a directory ALL footers are
    checked — a mixed-resolution landing dir is a hard error rather
    than silently reading every file with the first file's schema."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    def one(p: str) -> bool:
        t = pq.read_schema(p).field("ts").type
        if pat.is_timestamp(t):
            return t.unit == "ns"
        # plain int64 ts: the nanosAsLong conf surfaces real
        # TIMESTAMP(NANOS) columns as longs too, so treat as nanos
        return pat.is_integer(t)

    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        if not files:
            return False
        verdicts = {one(f) for f in files}
        if len(verdicts) > 1:
            raise ValueError(
                f"mixed ts resolutions across parquet files in {path}; "
                "a file stream needs one declared schema"
            )
        return verdicts.pop()
    return one(path)


def stream_events(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """A5: unbounded read of event-shaped parquet.

    The file-stream source requires a DIRECTORY (a bare file fails
    with "Option 'basePath' must be a directory"), so a single-file
    fixture is exposed through a temp dir of symlinks — zero copy,
    and exactly how a real deployment points at a landing directory.
    """
    if os.path.isfile(path):
        d = deferred_tempdir("stream_src_")
        os.symlink(path, os.path.join(d, os.path.basename(path)))
        path = d
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    nanos = _ts_is_nanos(path)
    reader = spark.readStream.schema(_events_raw_schema(nanos)).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if not nanos:
        return reader.load(path)
    # Integer floor division (pmod keeps it exact): `ts div 1000` alone
    # truncates toward zero (off by 1µs for negative-epoch nanos), and
    # float forms like floor(ts/1000) corrupt the low bits — int64
    # nanos exceed a double's 53-bit mantissa.
    return reader.load(path).withColumn(
        "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))
    )


def run_stream(
    sdf: DataFrame, output_mode: str, shuffle_partitions: int = 8
) -> DataFrame:
    """A6: drain a streaming frame into a memory sink (availableNow —
    processes everything then stops) and return the materialized
    result as a batch DataFrame.

    ``shuffle_partitions`` sizes the stateful operators: Structured
    Streaming pins one StateStore instance per shuffle partition per
    stateful op for the lifetime of the query, and every micro-batch
    commits all of them — so partition count is a per-query throughput
    knob, not a global. The default 8 is sized for the local test
    drains (32 stores/batch was ~2× slower end-to-end on the sf0.01
    replays); a production deployment passes ~2-3× its executor-core
    count. Results are partition-count-independent; the conf is
    restored after the drain so batch queries keep the session value.
    """
    sess = sdf.sparkSession
    prev = sess.conf.get("spark.sql.shuffle.partitions")
    sess.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        name = f"sink_{uuid.uuid4().hex[:12]}"
        q = (
            sdf.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        sess.conf.set("spark.sql.shuffle.partitions", prev)
    return sdf.sparkSession.table(name)


def run_stream_foreach_batch(
    sdf: DataFrame, fn, output_mode: str = "update", shuffle_partitions: int = 8
) -> None:
    """A6 production form: per-microbatch delivery through
    ``foreachBatch`` — ``fn(batch_df, epoch_id)`` receives each
    micro-batch as a NORMAL DataFrame, so any batch sink (parquet,
    JDBC, merge-into) works unchanged. availableNow: drains then
    stops.

    ``shuffle_partitions`` applies :func:`run_stream`'s StateStore
    sizing to this drain path too (r14 optimization round): the
    update-mode lanes (i20/i21) aggregate ON the stream, so every
    micro-batch commits one state store per shuffle partition — at
    the session's 32 the fixed store-commit cost quadruples against
    the measured-right 8 (run_stream's documented ~2× end-to-end).
    The epoch bodies' batch joins also inherit the smaller pre-AQE
    width; results are partition-count-independent and the conf is
    restored after the drain."""
    sess = sdf.sparkSession
    prev = sess.conf.get("spark.sql.shuffle.partitions")
    sess.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            sdf.writeStream.outputMode(output_mode)
            .foreachBatch(fn)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        sess.conf.set("spark.sql.shuffle.partitions", prev)


def refire_last_epoch(fn, batch_df: DataFrame, writes: list[tuple]) -> None:
    """In-body replay tooth of a foreachBatch lane: re-deliver the
    newest committed epoch to the lane's body ``fn`` — foreachBatch's
    at-least-once restart case — and raise if any table of ``writes``
    (the lane's ``txlog.commit_epoch`` write tuples) changed version.
    ``batch_df`` stands in for the re-delivered batch; a body that
    commits through ``commit_epoch`` never evaluates it, so the tooth
    costs log reads only."""
    from spark_glove_spark.sources import txlog

    epoch = max(txlog.last_txn_version(t, app) for t, app, *_ in writes)
    before = [txlog.current_version(t) for t, *_ in writes]
    fn(batch_df, epoch)
    after = [txlog.current_version(t) for t, *_ in writes]
    if after != before:
        raise AssertionError(
            f"re-fired epoch {epoch} advanced a state table: {before} -> {after}"
        )


def stage_ranged_stream(
    df: DataFrame, key: str, base: str, schema: str, n_files: int = 4
) -> DataFrame:
    """Stage ``df`` as a REPLAYABLE FILE STREAM in key order: write
    ``n_files`` key-ranged parquet files under ``base``, stamp them
    with ascending mtimes in key-range order (the file source orders
    by MODIFICATION TIME, not path — observed: the equal-mtime order
    scrambled ranges and an online filter missed dups whose earlier
    partner hadn't 'arrived' yet), and return a readStream over them
    with ``maxFilesPerTrigger=1`` so each file is one micro-batch.
    Shared by i22 / pipeline_streaming_curate / i23 (r10 review
    finding: the block was copy-pasted three times).

    repartitionByRange can emit EMPTY part files at small scale
    factors / skewed ranges (ADVICE r7) — dropped before indexing
    row 0; zero-row files contribute nothing to the replay."""
    import glob as _glob
    import time as _time

    import pyarrow.parquet as _pq

    src = os.path.join(base, "f")
    df.repartitionByRange(n_files, key).write.mode("overwrite").parquet(src)
    parts = [
        f
        for f in sorted(_glob.glob(os.path.join(src, "part-*.parquet")))
        if _pq.read_metadata(f).num_rows > 0
    ]
    by_min = sorted(
        parts,
        key=lambda f: _pq.read_table(f, columns=[key])[key].to_pylist()[0],
    )
    t0 = _time.time() - 86_400
    for i, f in enumerate(by_min):
        os.utime(f, (t0 + i * 60, t0 + i * 60))
    return (
        df.sparkSession.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def events_path(sf_dir: str) -> str:
    return os.path.join(sf_dir, "events.parquet")
