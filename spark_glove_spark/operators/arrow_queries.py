"""Arrow IPC (Feather v2) source + sink behind the Python DataSource
API — the zero-copy exchange format ML pipelines hand between
engines (feature stores, dataloaders, DuckDB/Polars/pandas handoffs).

Spark has no built-in Arrow IPC file source, but its Python
DataSource API accepts pyarrow RecordBatches straight from
``read()`` — so the scan path here is Arrow end-to-end: file →
memory-mapped record batch → Arrow-IPC transfer into the JVM, with
NO per-row Python materialization anywhere (contrast the Avro lane,
which must decode rows because the wire format is row-oriented).

Writer: ``write_arrow_ipc`` streams each partition's record batches
into one ``.arrow`` file via ``mapInArrow`` — task memory is ONE
batch, the file footer makes every file self-describing, and the
whole write is embarrassingly parallel (no shuffle, no sidecar:
unlike the Avro lane's ``_FIELDS`` convenience file, readers take
the schema from the first footer). Optional ``compression``
('zstd'/'lz4') rides Arrow's per-buffer body compression.

100 TB: file-per-task at write, split-per-file at read — the same
scale shape as the built-in sources; record batches bound both
writer and reader memory. AUTOMATIC column pruning does not reach
the file scan (the Python DataSource API exposes no prune hook to
Python readers yet), but the reader takes a ``columns`` option —
``.option("columns", "vec_id,label")`` selects zero-copy off the
footer, so dropped columns' buffers never cross into the JVM; left
unset, Spark prunes immediately after the scan. Parquet stays the
landing format; Arrow IPC is the EXCHANGE format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_glove_spark.registry import deferred_tempdir, query
from spark_glove_spark.sources import table


def write_arrow_ipc(
    df: DataFrame,
    path: str,
    batch_rows: int = 4096,
    compression: str | None = None,
) -> int:
    """Write ``df`` as one Arrow IPC file per partition under
    ``path``; returns the row count. Empty partitions write no file
    (the Avro writer's peek-first discipline)."""
    import os

    os.makedirs(path, exist_ok=True)

    def dump(batches):
        import pyarrow as pa
        import pyarrow.ipc as ipc
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        writer = None
        n = 0
        try:
            for batch in batches:
                if writer is None:
                    opts = ipc.IpcWriteOptions(compression=compression)
                    writer = ipc.new_file(
                        os.path.join(path, f"part-{pid:05d}.arrow"),
                        batch.schema,
                        options=opts,
                    )
                # re-slice to the batch budget: upstream Arrow batches
                # can arrive larger than we want resident per task
                for lo in range(0, batch.num_rows, batch_rows):
                    writer.write_batch(
                        batch.slice(lo, min(batch_rows, batch.num_rows - lo))
                    )
                n += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        yield pa.RecordBatch.from_pydict(
            {"part": pa.array([pid], pa.int32()),
             "n": pa.array([n], pa.int64())}
        )

    counts = df.mapInArrow(dump, "part int, n bigint").collect()
    return sum(r.n for r in counts)


def _register_arrow(spark: SparkSession) -> None:
    # Imports live inside so merely importing this module (registry
    # population) never touches the datasource machinery.
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class ArrowIpcReader(DataSourceReader):
        def __init__(self, options: dict) -> None:
            self.path = options["path"]
            cols = options.get("columns")
            self.columns = (
                [c.strip() for c in cols.split(",")] if cols else None
            )

        def partitions(self):  # noqa: D102 — API hook
            import glob
            import os

            files = sorted(glob.glob(os.path.join(self.path, "*.arrow")))
            if not files:
                raise FileNotFoundError(f"no .arrow files under {self.path}")
            return [InputPartition(f) for f in files]

        def read(self, partition):  # noqa: D102 — API hook
            # get_batch() materializes lazily off the file footer;
            # with a columns= option the select() is zero-copy and the
            # dropped columns' buffers are never sent over Arrow IPC
            # to the JVM (the user-driven prune path — the DataSource
            # API itself exposes no automatic prune hook to Python)
            import pyarrow.ipc as ipc

            with ipc.open_file(partition.value) as r:
                for i in range(r.num_record_batches):
                    b = r.get_batch(i)
                    yield b.select(self.columns) if self.columns else b

    class ArrowIpcDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "sgs_arrow"

        def schema(self):  # noqa: D102 — API hook
            import glob
            import os

            import pyarrow.ipc as ipc
            from pyspark.sql.pandas.types import from_arrow_schema

            files = sorted(
                glob.glob(os.path.join(self.options["path"], "*.arrow"))
            )
            if not files:
                raise FileNotFoundError(
                    f"no .arrow files under {self.options['path']}"
                )
            with ipc.open_file(files[0]) as r:
                schema = r.schema
            cols = self.options.get("columns")
            if cols:
                keep = [c.strip() for c in cols.split(",")]
                missing = [c for c in keep if schema.field(c) is None]
                if missing:  # pragma: no cover — pyarrow raises first
                    raise KeyError(f"columns not in IPC schema: {missing}")
                schema = __import__("pyarrow").schema(
                    [schema.field(c) for c in keep]
                )
            return from_arrow_schema(schema)

        def reader(self, schema):  # noqa: D102 — API hook
            return ArrowIpcReader(self.options)

    spark.dataSource.register(ArrowIpcDataSource)


@query(
    "a44_arrow_ipc",
    section="A1,A3,G6,D1",
    tags=("io", "vectors"),
    oracle="""
SELECT CAST(vec_id % 8 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(CASE WHEN embedding IS NULL THEN 1 END) AS BIGINT)
         AS null_emb,
       CAST(sum(CASE WHEN embedding IS NULL THEN 0 ELSE len(embedding) END)
         AS BIGINT) AS dims,
       CAST(sum(CASE WHEN embedding IS NULL THEN 0 ELSE
         list_sum(list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)))
       END) AS BIGINT) AS checksum,
       CAST(sum(label) AS BIGINT) AS label_sum
FROM (
  SELECT vec_id,
         CASE WHEN vec_id % 11 = 0 THEN NULL ELSE embedding END AS embedding,
         label
  FROM embeddings
)
GROUP BY 1
""",
)
def a44_arrow_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC roundtrip, fully ORACLE-checked THROUGH the format:
    the embeddings table (vector payload — the column Arrow exists
    to carry) writes one IPC file per partition via ``mapInArrow``
    (every 11th vector punched to NULL so list-validity bitmaps carry
    real traffic), reads back through the registered ``sgs_arrow``
    DataSource — record batches flow file → Python → JVM with no
    per-row decode — and aggregates the a37 integer checksum
    (sum of floor(widen(float32)·1000) over every element), so a
    hash match proves EVERY element of EVERY vector and every null
    bitmap survived the writer's slicing and the reader's batch walk
    bit-exactly.

    vs the Avro lane (a37): same table, same checksum, different
    wire — Avro is the row-oriented ingest format (self-describing
    per-row decode, schema resolution), Arrow IPC is the columnar
    exchange format (zero-copy batches, no resolution rules). A
    pipeline lands Kafka Avro, exchanges Arrow, stores parquet; this
    repo now checks all three hops against the same oracle.

    Scale: write is shuffle-free file-per-task; read plans one split
    per file; both ends hold ONE record batch resident. Column
    pruning stops at the scan boundary (no prune hook in the Python
    DataSource API) — acceptable for an exchange hop, wrong for a
    landing format; that trade is the docstring's honest caveat."""

    e = table(spark, sf_dir, "embeddings")
    src = e.select(
        "vec_id",
        F.when(F.col("vec_id") % 11 == 0, F.lit(None))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
        "label",
    ).repartition(4)
    path = deferred_tempdir("sgs_arrow_")
    write_arrow_ipc(src, path, batch_rows=2048)
    _register_arrow(spark)
    back = spark.read.format("sgs_arrow").option("path", path).load()
    res = back.groupBy((F.col("vec_id") % 8).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("embedding").isNull(), 1))
        .cast("long")
        .alias("null_emb"),
        F.sum(
            F.when(F.col("embedding").isNull(), F.lit(0)).otherwise(
                F.size("embedding")
            )
        )
        .cast("long")
        .alias("dims"),
        F.sum(
            F.when(F.col("embedding").isNull(), F.lit(0)).otherwise(
                F.aggregate(
                    F.transform(
                        F.col("embedding"),
                        lambda x: F.floor(
                            x.cast("double") * F.lit(1000.0)
                        ).cast("long"),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                )
            )
        )
        .cast("long")
        .alias("checksum"),
        F.sum("label").cast("long").alias("label_sum"),
    )
    return res.localCheckpoint(eager=True)


def _register_arrow_stream(spark: SparkSession) -> None:
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class ArrowStreamReader(SimpleDataSourceStreamReader):
        """Offset = count of .arrow files consumed (sorted by name);
        each micro-batch reads exactly ONE newly arrived file — batch
        boundaries are file boundaries, the same drop-directory shape
        as the Avro stream (i26). Files are immutable once landed, so
        readBetweenOffsets replay is exactly-once for free."""

        def __init__(self, options: dict) -> None:
            self.path = options["path"]

        def _files(self) -> list[str]:
            import glob
            import os

            return sorted(glob.glob(os.path.join(self.path, "*.arrow")))

        def _rows(self, lo: int, hi: int):
            import pyarrow.ipc as ipc

            # a LIST, not a generator: the engine's prefetch cache
            # copy.copy()s the iterator for replay (i26's lesson).
            # The simple reader is driver-side and row-oriented by
            # API contract — to_pylist here is the documented demo
            # trade; the BATCH path (sgs_arrow) stays batch-native.
            out = []
            for f in self._files()[lo:hi]:
                with ipc.open_file(f) as r:
                    for i in range(r.num_record_batches):
                        for row in r.get_batch(i).to_pylist():
                            out.append(tuple(row.values()))
            return iter(out)

        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            files = self._files()
            i = start["i"]
            if i >= len(files):
                return iter([]), start  # caught up
            return self._rows(i, i + 1), {"i": i + 1}

        def readBetweenOffsets(self, start, end):
            return self._rows(start["i"], end["i"])

        def commit(self, end) -> None:
            pass

    class ArrowStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "sgs_arrow_stream"

        def schema(self):  # noqa: D102 — API hook
            import glob
            import os

            import pyarrow.ipc as ipc
            from pyspark.sql.pandas.types import from_arrow_schema

            files = sorted(
                glob.glob(os.path.join(self.options["path"], "*.arrow"))
            )
            if not files:
                raise FileNotFoundError(
                    f"no .arrow files under {self.options['path']}"
                )
            with ipc.open_file(files[0]) as r:
                return from_arrow_schema(r.schema)

        def simpleStreamReader(self, schema):  # noqa: D102 — API hook
            return ArrowStreamReader(self.options)

    spark.dataSource.register(ArrowStreamSource)


@query(
    "i31_streaming_arrow_ingest",
    section="A5,A1,I1,D1,G6",
    tags=("streaming", "io", "vectors"),
    # the streamed files must converge to the batch aggregate over
    # the SAME projection — identical math to a44's oracle
    oracle="""
SELECT CAST(vec_id % 8 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(CASE WHEN embedding IS NULL THEN 1 END) AS BIGINT)
         AS null_emb,
       CAST(sum(CASE WHEN embedding IS NULL THEN 0 ELSE len(embedding) END)
         AS BIGINT) AS dims,
       CAST(sum(CASE WHEN embedding IS NULL THEN 0 ELSE
         list_sum(list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)))
       END) AS BIGINT) AS checksum,
       CAST(sum(label) AS BIGINT) AS label_sum
FROM (
  SELECT vec_id,
         CASE WHEN vec_id % 11 = 0 THEN NULL ELSE embedding END AS embedding,
         label
  FROM embeddings
)
GROUP BY 1
""",
)
def i31_streaming_arrow_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5-for-Arrow, fully ORACLE-checked: the embeddings table lands
    as four Arrow IPC files in a drop directory (the a44 writer) and
    streams ONE FILE PER MICRO-BATCH into a complete-mode aggregate
    that hash-matches the batch aggregate over the parquet original —
    offset slicing across file boundaries is gap- and overlap-free
    and every vector element survives streamed delivery bit-exactly
    (the a44 checksum, streamed). This closes the format symmetry:
    Avro has batch + streaming + evolution lanes, Arrow IPC now has
    batch + streaming — the feature-store drop-directory a training
    job tails.

    100 TB: the offset is a file index over immutable files
    (exactly-once replay for free); the simple reader is the
    documented driver-side demo — a production deployment swaps in
    the partition-planning DataSourceStreamReader exactly as
    pydatasource.py documents for i12, and the BATCH lane (a44)
    already plans one split per file."""
    import uuid

    e = table(spark, sf_dir, "embeddings")
    src_df = e.select(
        "vec_id",
        F.when(F.col("vec_id") % 11 == 0, F.lit(None))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
        "label",
    ).repartition(4)
    path = deferred_tempdir("sgs_arrow_stream_")
    write_arrow_ipc(src_df, path, batch_rows=2048)
    _register_arrow_stream(spark)
    src = (
        spark.readStream.format("sgs_arrow_stream")
        .option("path", path)
        .load()
    )
    agg = src.groupBy((F.col("vec_id") % 8).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("embedding").isNull(), 1))
        .cast("long")
        .alias("null_emb"),
        F.sum(
            F.when(F.col("embedding").isNull(), F.lit(0)).otherwise(
                F.size("embedding")
            )
        )
        .cast("long")
        .alias("dims"),
        F.sum(
            F.when(F.col("embedding").isNull(), F.lit(0)).otherwise(
                F.aggregate(
                    F.transform(
                        F.col("embedding"),
                        lambda x: F.floor(
                            x.cast("double") * F.lit(1000.0)
                        ).cast("long"),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                )
            )
        )
        .cast("long")
        .alias("checksum"),
        F.sum("label").cast("long").alias("label_sum"),
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
    return spark.table(name).localCheckpoint(eager=True)
