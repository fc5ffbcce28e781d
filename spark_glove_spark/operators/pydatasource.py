"""Custom Python data source (SURVEY.md §2.A extension — Spark 4's
``pyspark.sql.datasource`` API, public).

A real columnar SOURCE, not a DataFrame wrapper: the engine asks the
reader for its partitions, ships one ``InputPartition`` per task, and
each task yields Arrow RecordBatches — so generation is distributed,
vectorized (numpy -> Arrow, no per-row Python), and scales with the
requested partition count exactly like a file-based source scales
with splits. This is the extension point for bespoke feeds at 100 TB
(internal services, proprietary formats, synthetic load) when no
built-in connector exists.

The synthetic stream is a deterministic integer sequence with a
Knuth-multiplicative-hash amount column, so the WHOLE source —
including its partitioning — is oracle-checkable: DuckDB regenerates
it from ``range()`` with the same closed-form arithmetic, and the
hash compare proves partition slicing neither drops nor duplicates
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_glove_spark.registry import deferred_tempdir, query
from spark_glove_spark.sources import scalar_bounds, table

_N = 50_000
_PARTS = 8
_KNUTH = 2654435761  # 2^32 / golden ratio; amounts stay < 2^32


def _register(spark: SparkSession) -> None:
    # Imports live inside so merely importing this module (registry
    # population) never touches the datasource machinery.
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class SyntheticEventsReader(DataSourceReader):
        def __init__(self, options: dict) -> None:
            self.n = int(options.get("n", _N))
            self.parts = int(options.get("partitions", _PARTS))

        def partitions(self):  # noqa: D102 — API hook
            step = -(-self.n // self.parts)
            return [
                InputPartition((lo, min(lo + step, self.n)))
                for lo in range(0, self.n, step)
            ]

        def read(self, partition):  # noqa: D102 — API hook
            import numpy as np
            import pyarrow as pa

            lo, hi = partition.value
            ids = np.arange(lo, hi, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids),
                    pa.array((ids % 16).astype(np.int32)),
                    pa.array((ids * _KNUTH) % (1 << 32)),
                ],
                names=["id", "bucket", "amount"],
            )

    class SyntheticEventsDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "synthetic_events"

        def schema(self) -> str:
            return "id BIGINT, bucket INT, amount BIGINT"

        def reader(self, schema):  # noqa: D102 — API hook
            return SyntheticEventsReader(self.options)

    spark.dataSource.register(SyntheticEventsDataSource)


@query(
    "a10_python_datasource",
    section="A1,A4,D1",
    tags=("source",),
    oracle=f"""
SELECT CAST(i % 16 AS INT) AS bucket,
       count(*) AS n,
       CAST(sum((i * {_KNUTH}) % 4294967296) AS BIGINT) AS amount_sum
FROM range(0, {_N}) t(i)
GROUP BY 1
""",
)
def a10_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-and-aggregate over the custom ``synthetic_events`` Python
    data source: 8 input partitions generated task-side as Arrow
    batches flow through an ordinary hash aggregate. The oracle
    regenerates the identical rows from DuckDB ``range()`` — a full
    value-hash proof that the source's partition slicing is exact
    (no dropped/duplicated rows at the split boundaries).
    """
    _register(spark)
    src = (
        spark.read.format("synthetic_events")
        .option("n", _N)
        .option("partitions", _PARTS)
        .load()
    )
    return src.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amount").alias("amount_sum"),
    )


def _register_stream(spark: SparkSession) -> None:
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class SyntheticStreamReader(SimpleDataSourceStreamReader):
        """Offset = rows emitted so far; each micro-batch advances by
        ``step`` until ``n`` is reached, then reports caught-up (empty
        batch, unchanged offset) so availableNow terminates. The
        simple-reader variant generates in the driver with replay via
        ``readBetweenOffsets`` — right for control-rate feeds; a high-
        volume source implements the partition-planning
        ``DataSourceStreamReader`` instead (the batch reader above
        shows that plan shape)."""

        def __init__(self, options: dict) -> None:
            self.n = int(options.get("n", _N))
            self.step = int(options.get("step", 16_384))

        def initialOffset(self):
            return {"pos": 0}

        def _rows(self, lo: int, hi: int):
            return [
                (i, i % 16, (i * _KNUTH) % (1 << 32)) for i in range(lo, hi)
            ]

        def read(self, start):
            lo = start["pos"]
            hi = min(lo + self.step, self.n)
            return iter(self._rows(lo, hi)), {"pos": hi}

        def readBetweenOffsets(self, start, end):
            return iter(self._rows(start["pos"], end["pos"]))

        def commit(self, end) -> None:
            pass

    class SyntheticEventsStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "synthetic_events_stream"

        def schema(self) -> str:
            return "id BIGINT, bucket INT, amount BIGINT"

        def simpleStreamReader(self, schema):  # noqa: D102 — API hook
            return SyntheticStreamReader(self.options)

    spark.dataSource.register(SyntheticEventsStreamSource)


@query(
    "i12_python_stream_source",
    section="A5,I1,D1",
    tags=("streaming", "source"),
    # Identical oracle to a10: replaying the same sequence through
    # micro-batches must converge to the batch aggregate exactly.
    oracle=f"""
SELECT CAST(i % 16 AS INT) AS bucket,
       count(*) AS n,
       CAST(sum((i * {_KNUTH}) % 4294967296) AS BIGINT) AS amount_sum
FROM range(0, {_N}) t(i)
GROUP BY 1
""",
)
def i12_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python source as a STREAM: the same deterministic
    sequence arrives in ~4 offset-bounded micro-batches through a
    ``SimpleDataSourceStreamReader`` (initialOffset / read /
    readBetweenOffsets — the exactly-once replay contract), feeding a
    complete-mode aggregate. The final table hash-matches a10's batch
    oracle, proving offset slicing is gap- and overlap-free across
    micro-batch boundaries.
    """
    import uuid

    _register_stream(spark)
    src = (
        spark.readStream.format("synthetic_events_stream")
        .option("n", _N)
        .load()
    )
    agg = src.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amount").alias("amount_sum"),
    )
    # availableNow would freeze the end offset at the simple reader's
    # FIRST prefetched batch (one read() call) and drain only 16k of
    # the 50k rows; processAllAvailable() keeps triggering until the
    # reader reports caught-up (empty batch, unchanged offset), i.e.
    # the real end of the sequence.
    name = f"sink_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def _register_txlog_stream(spark: SparkSession) -> None:
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class TxLogStreamReader(SimpleDataSourceStreamReader):
        """Change-data feed over a txlog table (sources/txlog.py):
        the stream OFFSET is the last consumed table VERSION, each
        micro-batch delivers the rows ADDED by the next committed
        version, and replay (readBetweenOffsets) re-reads the same
        versions' immutable files — txlog commits being atomic and
        numbered is exactly what makes the source exactly-once. The
        feed is append-only by contract: a version that REMOVES files
        (overwrite/compaction) is not representable as pure row-adds,
        so the reader refuses it rather than silently re-emitting.
        Files are read driver-side with pyarrow (simple-reader
        variant — right for the control-rate feeds this exhibits; a
        high-volume CDF implements partition planning instead)."""

        def __init__(self, options: dict) -> None:
            self.path = options["path"]

        def initialOffset(self):
            return {"version": -1}

        def _version_rows(self, v: int):
            import os

            import pyarrow.parquet as pq

            from spark_glove_spark.sources import txlog

            entry = txlog.read_log(self.path, v)[v]
            if entry["removes"]:
                raise ValueError(
                    f"txlog stream: version {v} removes files "
                    "(append-only feed cannot represent it)"
                )
            rows = []
            for rel in entry["adds"]:
                t = pq.read_table(
                    os.path.join(self.path, rel),
                    columns=["event_id", "event_type", "value"],
                )
                rows.extend(
                    zip(
                        t.column("event_id").to_pylist(),
                        t.column("event_type").to_pylist(),
                        t.column("value").to_pylist(),
                    )
                )
            rows.sort()
            return rows

        def read(self, start):
            from spark_glove_spark.sources import txlog

            nxt = start["version"] + 1
            if nxt > txlog.current_version(self.path):
                return iter([]), start  # caught up
            return iter(self._version_rows(nxt)), {"version": nxt}

        def readBetweenOffsets(self, start, end):
            rows = []
            for v in range(start["version"] + 1, end["version"] + 1):
                rows.extend(self._version_rows(v))
            return iter(rows)

        def commit(self, end) -> None:
            pass

    class TxLogStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "txlog_stream"

        def schema(self) -> str:
            return "event_id BIGINT, event_type STRING, value DOUBLE"

        def simpleStreamReader(self, schema):  # noqa: D102 — API hook
            return TxLogStreamReader(self.options)

    spark.dataSource.register(TxLogStreamSource)


@query(
    "i18_txlog_stream_source",
    section="A5,I1,A1",
    tags=("streaming", "source", "cdc"),
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS total
FROM events
GROUP BY 1
""",
)
def i18_txlog_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The txlog table as a streaming SOURCE — the change-data-feed
    half of the format (i17 is the sink half): four committed
    versions (create + three appends, each a deterministic quarter of
    events) are consumed version-per-micro-batch through a custom
    ``SimpleDataSourceStreamReader`` whose offsets ARE the table
    versions, feeding a complete-mode aggregate. The final table
    hash-matches the batch aggregate over all events, proving the
    version slicing delivers every committed row exactly once across
    micro-batch boundaries. Together i17+i18 close the loop: stream
    in -> versioned table -> stream out, all on the engine's own
    log-structured format."""
    import uuid

    from spark_glove_spark.sources import txlog

    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = deferred_tempdir("sgs_i18_") + "/t"
    txlog.create(e.where(F.col("event_id") % 4 == 0), path)
    for m in (1, 2, 3):
        txlog.append(e.where(F.col("event_id") % 4 == m), path)

    _register_txlog_stream(spark)
    src = spark.readStream.format("txlog_stream").option("path", path).load()
    agg = src.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
    )
    name = f"sink_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def _register_txlog_cdf_stream(spark: SparkSession) -> None:
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class TxLogCdfStreamReader(SimpleDataSourceStreamReader):
        """SIGNED change-data feed over a txlog table — the streaming
        form that CAN represent mutations (the plain txlog_stream
        refuses file-removing versions): each micro-batch emits every
        row of the version's ADDED files with sign +1 and every row
        of its REMOVED files with sign -1, uncancelled. Copy-on-write
        survivor rows therefore appear as a (+1, -1) pair that nets
        to ZERO in any additive aggregate — so a downstream
        sum(sign)/sum(sign*x) view is maintained correctly without
        the exceptAll cancellation the batch changes() performs
        (cancellation is a per-version barrier; additive consumers
        don't need it). 'optimize' versions are skipped outright:
        layout-only, they would net zero at the cost of re-reading
        the table twice. Replay re-reads the same immutable files, so
        exactly-once follows from the version numbering."""

        def __init__(self, options: dict) -> None:
            self.path = options["path"]

        def initialOffset(self):
            return {"version": -1}

        def _version_rows(self, v: int):
            import os

            import pyarrow.parquet as pq

            from spark_glove_spark.sources import txlog

            entry = txlog.read_log(self.path, v)[v]
            if entry.get("operation") == "optimize":
                return []
            rows = []
            for sign, rels in ((1, entry["adds"]), (-1, entry["removes"])):
                for rel in rels:
                    t = pq.read_table(
                        os.path.join(self.path, rel),
                        columns=["k", "price", "grp"],
                    )
                    rows.extend(
                        zip(
                            t.column("k").to_pylist(),
                            t.column("price").to_pylist(),
                            t.column("grp").to_pylist(),
                            [sign] * t.num_rows,
                            [v] * t.num_rows,
                        )
                    )
            rows.sort()
            return rows

        def read(self, start):
            from spark_glove_spark.sources import txlog

            nxt = start["version"] + 1
            if nxt > txlog.current_version(self.path):
                return iter([]), start  # caught up
            return iter(self._version_rows(nxt)), {"version": nxt}

        def readBetweenOffsets(self, start, end):
            rows = []
            for v in range(start["version"] + 1, end["version"] + 1):
                rows.extend(self._version_rows(v))
            return iter(rows)

        def commit(self, end) -> None:
            pass

    class TxLogCdfStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "txlog_cdf_stream"

        def schema(self) -> str:
            return (
                "k BIGINT, price DOUBLE, grp STRING, "
                "sign INT, version BIGINT"
            )

        def simpleStreamReader(self, schema):  # noqa: D102 — API hook
            return TxLogCdfStreamReader(self.options)

    spark.dataSource.register(TxLogCdfStreamSource)


@query(
    "i19_streaming_incremental_agg",
    section="A5,I1,D1,F4",
    tags=("streaming", "source", "cdc"),
    oracle="""
WITH b AS (SELECT o_orderkey AS k, o_totalprice AS price,
                  o_orderpriority AS grp FROM orders),
mm AS (SELECT CAST(floor(max(k) / 8.0) AS BIGINT) AS h8,
              CAST(floor(max(k) / 4.0) AS BIGINT) AS h4 FROM b),
fin AS (
  SELECT grp,
         CASE WHEN k % 7 = 0 AND k > h8 AND k <= h4
              THEN floor(price * 120) / 100 ELSE price END AS p
  FROM b, mm
  WHERE k > h8 AND NOT (k % 7 = 1 AND k > h8 AND k <= h4)
  UNION ALL
  SELECT 'ADJ', floor(price * 25) / 100 FROM b WHERE k % 7 = 3
  UNION ALL
  SELECT grp, floor(price * 45) / 100 FROM b, mm
  WHERE k % 7 = 2 AND k > h8 AND k <= h4
)
SELECT grp, CAST(count(*) AS BIGINT) AS n, round(sum(p), 2) AS total
FROM fin GROUP BY 1
""",
)
def i19_streaming_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING materialized-view maintenance over a MUTATING table —
    pipeline_incremental_agg's always-on twin: the orders table
    drifts through the same create/append/COW-delete/merge history,
    and a complete-mode streaming aggregate over the SIGNED change
    feed (txlog_cdf_stream: +1 per added-file row, -1 per
    removed-file row, one version per micro-batch) maintains
    count = sum(sign) and total = sum(sign * price) per group. COW
    survivor rows arrive as (+1, -1) pairs that net to zero, so no
    diff/cancellation step exists anywhere in the pipeline — the
    additive algebra absorbs rewrites. The final view hash-matches
    the relational reconstruction of the table's end state (the
    oracle), proving exactly-once delivery of every add AND remove
    across micro-batch boundaries."""
    import uuid

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = o.select(
        k.alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderpriority").alias("grp"),
    )
    path = deferred_tempdir("sgs_i19_") + "/t"
    txlog.create(base.repartitionByRange(8, "k"), path)  # v0
    h8, h4 = scalar_bounds(base, "k", 8, 4)  # one agg job for both
    adj = base.where(F.col("k") % 7 == 3).select(
        (F.col("k") + 200000000).alias("k"),
        (F.floor(F.col("price") * 25) / 100).alias("price"),
        F.lit("ADJ").alias("grp"),
    )
    txlog.append(adj, path)  # v1
    txlog.delete(spark, path, f"k <= {h8}", prune=("k", 0, h8))  # v2
    band = base.where((F.col("k") > h8) & (F.col("k") <= h4))
    src = (
        band.where(F.col("k") % 7 == 0)
        .select("k", (F.floor(F.col("price") * 120) / 100).alias("price"),
                "grp", F.lit("U").alias("op"))
        .unionByName(
            band.where(F.col("k") % 7 == 1)
            .select("k", F.lit(0.0).alias("price"), "grp",
                    F.lit("D").alias("op"))
        )
        .unionByName(
            band.where(F.col("k") % 7 == 2)
            .select((F.col("k") + 300000000).alias("k"),
                    (F.floor(F.col("price") * 45) / 100).alias("price"),
                    "grp", F.lit("I").alias("op"))
        )
    )
    txlog.merge(spark, path, src, on=["k"], op_col="op")  # v3
    txlog.optimize(spark, path)  # v4 — skipped by the feed

    _register_txlog_cdf_stream(spark)
    feed = spark.readStream.format("txlog_cdf_stream").option(
        "path", path
    ).load()
    view = (
        feed.groupBy("grp")
        .agg(
            F.sum("sign").alias("n"),
            F.round(F.sum(F.col("sign") * F.col("price")), 2).alias("total"),
        )
        .where(F.col("n") > 0)
        .select("grp", F.col("n").cast("long").alias("n"), "total")
    )
    name = f"sink_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            view.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)
