"""Sources/sinks and the UDF surface — declared queries for SURVEY.md §2.A + §2.J.

§2.A rows A1–A4 get explicit oracle-checked queries here (A5/A6, the
streaming source/sink, are exercised by every §2.I query through the
file-stream replay + memory-sink harness in ``streaming/``). §2.J
declares one query per Python-execution mode — scalar UDF, Arrow-batched
pandas UDF, grouped-agg UDF, grouped-map ``applyInPandas``,
``mapInPandas``, and a Spark 4 UDTF — each with a pure-SQL oracle so the
Python boundary itself is what's under test.

Scale stance (SURVEY.md §4.1, §4.3.4): the J-rows exist to prove the
escape hatches work, not to recommend them — every kernel here is also
expressible as a built-in expression, and the expression form is what
the rest of the engine uses on hot paths. Arrow batch size is governed
by ``spark.sql.execution.arrow.maxRecordsPerBatch``; grouped kernels
must see few large groups, not many tiny ones (§4.3.4).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_glove_spark.registry import defer_unpersist, deferred_tempdir, query
from spark_glove_spark.sources import table, write_parquet


# --------------------------------------------------------------------------
# A. Sources / sinks
# --------------------------------------------------------------------------


@query(
    "a1_scan_pushdown",
    section="A1",
    oracle="""
SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
FROM supplier
WHERE s_acctbal > 0 AND s_nationkey < 10
""",
)
def a1_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: parquet scan with projection + predicate pushdown.

    ``explain`` shows PushedFilters [GreaterThan(s_acctbal,0),
    LessThan(s_nationkey,10)] and a 3-column ReadSchema — the scan never
    materializes the pruned columns, which at 100 TB is the difference
    between reading the table and reading a third of it."""
    return (
        table(spark, sf_dir, "supplier")
        .where((F.col("s_acctbal") > 0) & (F.col("s_nationkey") < 10))
        .select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


@query(
    "a2_corpus_source",
    section="A2",
    oracle="""
SELECT doc_id, lang, n_chars
FROM documents
WHERE lang IN ('en', 'de')
""",
)
def a2_corpus_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: corpus/text source — documents as (id, metadata) rows.

    The engine's text pipeline (H1+) starts from exactly this scan; the
    lang filter is pushed into the parquet row-group stats."""
    return (
        table(spark, sf_dir, "documents")
        .where(F.col("lang").isin("en", "de"))
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "a3_parquet_roundtrip",
    section="A3,A1",
    oracle="""
SELECT s_nationkey, count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS total_bal
FROM supplier
GROUP BY s_nationkey
""",
)
def a3_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: parquet sink → scan round-trip.

    Writes the aggregate to a temp dir via the A3 sink and reads it
    back, proving schema + values survive the columnar round-trip. At
    100 TB the sink takes ``partition_by`` on a low-cardinality column
    for static partition pruning downstream (sources/tables.py)."""
    agg = (
        table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
    )
    out = deferred_tempdir("sgs_a3_")
    write_parquet(agg, out)
    return spark.read.parquet(out)


@query(
    "a4_inmemory_source",
    section="A4,C1",
    oracle="""
SELECT r.r_regionkey, r.r_name, h.hemisphere
FROM region r
JOIN (VALUES (0, 'S'), (1, 'N'), (2, 'N'), (3, 'N'), (4, 'N'))
     AS h(r_regionkey, hemisphere)
  ON r.r_regionkey = h.r_regionkey
""",
)
def a4_inmemory_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: in-memory literal source joined (broadcast) to a fixture scan —
    the pattern every unit test and every small seeded dimension
    (LSH hyperplanes, probe sets) uses."""
    hemi = spark.createDataFrame(
        [(0, "S"), (1, "N"), (2, "N"), (3, "N"), (4, "N")],
        T.StructType(
            [
                T.StructField("r_regionkey", T.IntegerType()),
                T.StructField("hemisphere", T.StringType()),
            ]
        ),
    )
    return table(spark, sf_dir, "region").join(F.broadcast(hemi), "r_regionkey")


# --------------------------------------------------------------------------
# J. UDF / UDAF / UDTF surface
# --------------------------------------------------------------------------


@query(
    "j1_scalar_udf",
    section="J1",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS net_price
FROM lineitem
WHERE l_quantity >= 45
""",
)
def j1_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: row-at-a-time Python UDF — the slow escape hatch, declared to
    prove it works, filtered first so only ~1/10 of rows cross the
    Python boundary. The same math is a one-line expression (the oracle);
    hot paths must use that form (SURVEY.md §4.1)."""
    net = F.udf(lambda p, d: p * (1 - d), T.DoubleType())
    return (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= 45)
        .select(
            "l_orderkey",
            "l_linenumber",
            # Round outside the UDF: Python's round() is banker's on the
            # decimal value; F.round matches the oracle's semantics.
            F.round(net("l_extendedprice", "l_discount"), 4).alias("net_price"),
        )
    )


@query(
    "j2_pandas_udf",
    section="J2",
    oracle="""
SELECT o_orderkey, round(o_totalprice * 2, 2) AS double_price
FROM orders
WHERE o_orderstatus = 'F'
""",
)
def j2_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: Arrow-batched vectorized scalar UDF (numpy-speed, ~10-100× the
    J1 form). ×2 is an exact binary op that adds no decimal digits, so
    Spark and DuckDB see the identical double and no rounding tie can
    occur (same argument as b1_projection)."""

    @F.pandas_udf(T.DoubleType())
    def quarter(p: pd.Series) -> pd.Series:
        return p * 2

    return (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            F.round(quarter("o_totalprice"), 2).alias("double_price"),
        )
    )


@query(
    "j3_grouped_agg_udf",
    section="J3",
    oracle="""
SELECT event_type, round(avg(value), 4) AS mean_value
FROM events
GROUP BY event_type
""",
)
def j3_grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: grouped-aggregate pandas UDF (custom UDAF). Five groups at any
    scale — the per-group Arrow batch is the whole group, so this shape
    only works when groups are few and bounded; unbounded-cardinality
    custom aggs belong in applyInPandas over hash buckets (§4.3.4)."""

    @F.pandas_udf(T.DoubleType())
    def mean_val(v: pd.Series) -> float:
        return float(v.mean())

    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.round(mean_val("value"), 4).alias("mean_value"))
    )


@query(
    "j4_grouped_map_centroid",
    section="J4",
    oracle="""
SELECT label,
       CAST(pos AS INT) AS pos,
       round(avg(v), 4) AS centroid_val
FROM (
    SELECT label,
           unnest(embedding) AS v,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
)
GROUP BY label, pos
""",
)
def j4_grouped_map_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: grouped-map ``applyInPandas`` — per-label centroid of 64-d
    embeddings via a numpy kernel. This is the execution mode of the H5
    GloVe training step (glove/trainer.py); here with an exact SQL
    oracle so the Arrow group-batch path itself is verified. 10 labels
    → 10 groups of ~200 vectors: few large groups, the right shape.
    The kernel emits one (label, pos, centroid_val) row per dimension —
    flat scalar columns, because the driver's comparator cannot hash
    array-valued cells (1-indexed pos to match SQL subscripts)."""
    import numpy as np

    out_schema = T.StructType(
        [
            T.StructField("label", T.IntegerType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("centroid_val", T.DoubleType()),
        ]
    )

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        c = np.round(mat.mean(axis=0), 4)
        return pd.DataFrame(
            {
                "label": int(pdf["label"].iloc[0]),
                "pos": np.arange(1, len(c) + 1, dtype="int32"),
                "centroid_val": c,
            }
        )

    return (
        table(spark, sf_dir, "embeddings")
        .groupBy("label")
        .applyInPandas(centroid, out_schema)
    )


@query(
    "j5_map_in_pandas",
    section="J5",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       length(text) AS n_chars_checked
FROM documents
""",
)
def j5_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: ``mapInPandas`` per-partition batch kernel — the multimodal
    decode/feature-extract execution mode (operators/multimodal.py),
    here on integer outputs with an exact oracle. Batches stream through
    the kernel at ``arrow.maxRecordsPerBatch`` granularity, so memory is
    bounded regardless of partition size."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("n_chars_checked", T.LongType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": pdf["text"].str.split(" ").str.len().astype("int64"),
                    "n_chars_checked": pdf["text"].str.len().astype("int64"),
                }
            )

    return table(spark, sf_dir, "documents").select("doc_id", "text").mapInPandas(
        kernel, out_schema
    )


@query(
    "j6_udtf",
    section="J6",
    oracle="""
SELECT doc_id, pos, word
FROM (
    SELECT doc_id,
           generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
           unnest(string_split(text, ' ')) AS word
    FROM documents
    WHERE doc_id < 50
)
""",
)
def j6_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: Python UDTF (Spark 4) in a LATERAL join — one input row fans
    out to one row per token with its position. The built-in
    ``posexplode(split(...))`` expresses the same thing JVM-side and is
    what H3 uses; the UDTF exists for table-valued logic that has no
    expression form."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, word: string")
    class Tokenize:
        def eval(self, text: str):
            for i, w in enumerate(text.split(" ")):
                yield i, w

    spark.udtf.register("sgs_tokenize", Tokenize)
    table(spark, sf_dir, "documents").createOrReplaceTempView("sgs_docs_j6")
    return spark.sql(
        """
        SELECT doc_id, t.pos, t.word
        FROM sgs_docs_j6, LATERAL sgs_tokenize(text) t
        WHERE doc_id < 50
        """
    )


@query(
    "a5_multi_format_roundtrip",
    section="A1,A3",
    oracle="""
SELECT fmt, r_regionkey, r_name
FROM region, (VALUES ('csv'), ('json'), ('orc'), ('parquet')) AS f(fmt)
""",
)
def a5_multi_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format coverage: the same table written to and read back
    from CSV, JSON-lines, ORC, and parquet, with EXPLICIT schemas on
    read (schema inference is a full extra scan at 100 TB — never rely
    on it). Values must survive all four round-trips bit-for-bit."""
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    base = deferred_tempdir("sgs_a5_")
    schema = "r_regionkey int, r_name string"
    r.write.mode("overwrite").option("header", True).csv(f"{base}/csv")
    r.write.mode("overwrite").json(f"{base}/json")
    r.write.mode("overwrite").orc(f"{base}/orc")
    r.write.mode("overwrite").parquet(f"{base}/parquet")
    frames = [
        spark.read.schema(schema)
        .option("header", True)
        .csv(f"{base}/csv")
        .select(F.lit("csv").alias("fmt"), "*"),
        spark.read.schema(schema)
        .json(f"{base}/json")
        .select(F.lit("json").alias("fmt"), "*"),
        spark.read.schema(schema)
        .orc(f"{base}/orc")
        .select(F.lit("orc").alias("fmt"), "*"),
        spark.read.schema(schema)
        .parquet(f"{base}/parquet")
        .select(F.lit("parquet").alias("fmt"), "*"),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@query(
    "a7_partitioned_sink_pruning",
    section="A3,A1",
    oracle="""
SELECT user_id, count(*) AS n, round(sum(value), 2) AS total
FROM events
WHERE event_type = 'click'
GROUP BY 1
""",
)
def a7_partitioned_sink_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+A1 capstone: PARTITIONED parquet sink → scan with static
    partition pruning. Events are written partitioned by event_type
    (the low-cardinality layout column); the read-back filters one
    type, and the filter resolves at the DIRECTORY level —
    `PartitionFilters` in the scan, zero data files of other types
    opened (guarded in tests/test_scale.py).

    100 TB: partition layout is the first-line pruning mechanism —
    a date/type-partitioned lake turns most queries' scans from
    full-corpus to a handful of directories, before row-group stats
    even apply."""
    e = table(spark, sf_dir, "events")
    out = deferred_tempdir("sgs_a7_")
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    clicks = spark.read.parquet(out).where(F.col("event_type") == "click")
    return clicks.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
    )


@query(
    "a11_schema_evolution",
    section="A1,A3,B4",
    oracle="""
SELECT CASE WHEN event_id % 2 = 1 THEN event_type
            ELSE '<pre-evolution>' END AS event_type,
       count(*) AS n, round(sum(value), 2) AS total
FROM events
GROUP BY 1
""",
)
def a11_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: an 'old' batch written WITHOUT the
    ``event_type`` column and a 'new' batch written with it land in
    the same dataset directory; ``mergeSchema=true`` reconciles the
    footers into the union schema, with the missing column null-filled
    for pre-evolution files — exactly how a long-lived lake absorbs
    additive schema changes without rewriting history. The aggregate
    coalesces the null band so the oracle (which reconstructs both
    bands from the source table) checks every row landed in the right
    schema generation.

    100 TB: schema merge is a FOOTER-level operation (one small read
    per file — and per-directory pruning still applies before it);
    the data files are never touched.
    """
    e = table(spark, sf_dir, "events")
    out = deferred_tempdir("sgs_a11_")
    old = e.where(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "value"
    )
    new = e.where(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "value", "event_type"
    )
    old.write.parquet(f"{out}/batch=1")
    new.write.parquet(f"{out}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    return merged.groupBy(
        F.coalesce("event_type", F.lit("<pre-evolution>")).alias(
            "event_type"
        )
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
    )


@query(
    "a12_dynamic_partition_pruning",
    section="A1,C1,B2",
    oracle="""
SELECT e.event_type, count(*) AS n, round(sum(e.value), 2) AS total
FROM events e
JOIN (VALUES ('click', 'growth'), ('signup', 'growth'),
             ('view', 'content'), ('purchase', 'revenue'),
             ('error', 'platform')) AS d(event_type, team)
  ON e.event_type = d.event_type
WHERE d.team = 'growth'
GROUP BY 1
""",
)
def a12_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is laid out
    partitioned by the join column, the dim side is filtered on an
    attribute (team = 'growth') the fact side doesn't carry — so
    static pruning is impossible, and Catalyst instead INJECTS the
    dim's surviving keys into the fact scan at runtime
    (``dynamicpruningexpression`` in the scan's PartitionFilters,
    guarded in tests/test_scale.py): only the 2 matching directories
    of 5 are read. This is THE mechanism that makes star-schema
    queries cheap on a partitioned 100 TB lake — the fact scan is
    pruned by a filter that only exists after the dim is evaluated.
    """
    e = table(spark, sf_dir, "events")
    out = deferred_tempdir("sgs_a12_")
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [
            ("click", "growth"),
            ("signup", "growth"),
            ("view", "content"),
            ("purchase", "revenue"),
            ("error", "platform"),
        ],
        "event_type string, team string",
    )
    return (
        fact.join(dim.where(F.col("team") == "growth"), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
    )


@query(
    "a13_corrupt_records",
    section="A2,B4",
    oracle="""
SELECT 'corrupt' AS band, count(*) AS n,
       CAST(NULL AS DOUBLE) AS total
FROM events WHERE event_id % 100 = 7
UNION ALL
SELECT 'good', count(*), round(sum(value), 2)
FROM events WHERE event_id % 100 <> 7
""",
)
def a13_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input quarantine: a CSV feed where ~1% of lines carry
    an unparseable value column is read in PERMISSIVE mode with
    ``columnNameOfCorruptRecord`` — parse failures null the typed
    columns and capture the raw line instead of killing the job
    (FAILFAST) or silently vanishing (DROPMALFORMED). The query
    splits the feed into its good/corrupt bands and aggregates each;
    the oracle reconstructs both bands from the clean source, so the
    parser provably quarantines exactly the planted lines.

    At 100 TB this is the ingestion edge's contract: bad rows are
    data, not exceptions — they land in a quarantine band with their
    raw bytes for replay, and the pipeline's totals stay auditable.
    """

    e = table(spark, sf_dir, "events")
    out = deferred_tempdir("sgs_a13_")
    lines = e.select(
        F.when(
            F.col("event_id") % 100 == 7,
            # value column replaced by an unparseable token
            F.concat_ws(
                ",",
                F.col("event_id"),
                F.col("user_id"),
                F.lit("#corrupt#"),
            ),
        )
        .otherwise(
            F.concat_ws(",", F.col("event_id"), F.col("user_id"), F.col("value"))
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(out)
    parsed = (
        spark.read.schema(
            "event_id long, user_id long, value double, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    # Spark refuses plans whose column pruning leaves ONLY the internal
    # corrupt-record column on a raw CSV scan (e.g. a downstream
    # count()); persisting the parsed frame is the documented fix.
    parsed = defer_unpersist(parsed.persist())
    return (
        parsed.withColumn(
            "band",
            F.when(F.col("_corrupt_record").isNull(), "good").otherwise(
                "corrupt"
            ),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # corrupt rows carry null typed columns, so their band's
            # sum is naturally NULL — matching the oracle's literal
            F.round(F.sum("value"), 2).alias("total"),
        )
    )


@query(
    "a14_compaction",
    section="A3,A1",
    oracle="""
SELECT l_returnflag, count(*) AS n,
       round(sum(l_extendedprice), 2) AS total
FROM lineitem
GROUP BY 1
""",
)
def a14_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the lake-maintenance pass every
    long-lived table needs: a fragmented write (64 files, the shape
    left by streaming ingestion or over-parallel writers) is rewritten
    through ``coalesce(4)`` — a NARROW dependency that merges
    partitions without a shuffle (plan-guarded in tests/test_scale.py)
    — into a handful of scan-efficient files. The aggregate over the
    compacted copy must match the source exactly: compaction moves
    bytes, never changes them.

    100 TB: file count drives open/footer/listing overhead on every
    downstream scan; periodic compaction to ~128 MB-1 GB files (via
    maxRecordsPerFile or coalesce against a measured row width) is
    what keeps a streaming-fed lake scannable.
    """

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    tmp = deferred_tempdir("sgs_a14_")
    frag = f"{tmp}/fragmented"
    compact = f"{tmp}/compacted"
    li.repartition(64).write.parquet(frag)
    spark.read.parquet(frag).coalesce(4).write.parquet(compact)
    return (
        spark.read.parquet(compact)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total"),
        )
    )


@query(
    "j7_map_in_arrow",
    section="J5,J2",
    oracle="""
SELECT event_id, user_id,
       floor(value * 100 * 10000 + 0.5) / 10000 AS cents
FROM events
WHERE event_type = 'purchase'
""",
)
def j7_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the lowest-overhead Python boundary: the kernel
    receives raw ``pyarrow.RecordBatch``es (no pandas conversion, no
    index materialization, zero-copy into numpy where dtypes allow),
    making it the right lane for byte-level / columnar kernels where
    even mapInPandas' pandas wrapping is measurable. The multimodal
    decoders (operators/multimodal.py) are the production users of
    this boundary; this declared query pins its row-preservation and
    arithmetic semantics with a full hash check.
    """

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            # floor(x*1e4 + 0.5)/1e4, not pc.round: pyarrow's default
            # round mode is half-to-even while DuckDB rounds half-away
            # — exact ties would diverge (the f8 cent-math rule)
            cents = pc.divide(
                pc.floor(
                    pc.add(
                        pc.multiply(
                            pc.multiply(b.column("value"), pa.scalar(100.0)),
                            pa.scalar(10000.0),
                        ),
                        pa.scalar(0.5),
                    )
                ),
                pa.scalar(10000.0),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("event_id"), b.column("user_id"), cents],
                names=["event_id", "user_id", "cents"],
            )

    e = table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    return e.select("event_id", "user_id", "value").mapInArrow(
        kernel, "event_id long, user_id long, cents double"
    )


@query(
    "j8_cogrouped_map",
    section="J4,C3",
    oracle="""
SELECT o.o_orderkey,
       floor(o.o_totalprice * 100 + 0.5) / 100 AS header_total,
       floor(coalesce(sum(l.l_extendedprice * (1 - l.l_discount)), 0)
             * 100 + 0.5) / 100 AS line_total,
       count(l.l_orderkey) AS n_lines
FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey % 50 = 0
GROUP BY o.o_orderkey, o.o_totalprice
""",
)
def j8_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas — the two-sided Arrow boundary (the
    same ``FlatMapCoGroupsInPandas`` plan the GloVe trainer's fused
    merge+AdaGrad kernel rides): orders and their lineitems meet
    per order key, and the kernel reconciles header total vs summed
    line revenue in pandas. Both sides shuffle ONCE on the key and
    each kernel call sees one bounded (header, lines) group — the
    general shape for per-entity reconciliation/sessionization where
    the logic genuinely needs both frames at once. Oracle: the
    equivalent outer-join aggregate.
    """
    import math

    import numpy as np

    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 50 == 0)
        .select("o_orderkey", "o_totalprice")
    )
    # same key predicate as the orders side: lines of other orders
    # can't contribute (the oracle's LEFT JOIN drops them), and
    # without the filter cogroup shuffles the whole lineitem table
    # and invokes the kernel for thousands of header-less groups
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 50 == 0)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )

    def reconcile(key, odf, ldf):
        # cogroup invokes the kernel for keys present in EITHER frame;
        # line-only keys (orders filtered out above) contribute nothing
        if not len(odf):
            return pd.DataFrame(
                {
                    "o_orderkey": pd.Series([], dtype="int64"),
                    "header_total": pd.Series([], dtype="float64"),
                    "line_total": pd.Series([], dtype="float64"),
                    "n_lines": pd.Series([], dtype="int64"),
                }
            )
        rev = (
            float(
                np.sum(
                    ldf["l_extendedprice"].to_numpy()
                    * (1.0 - ldf["l_discount"].to_numpy())
                )
            )
            if len(ldf)
            else 0.0
        )
        return pd.DataFrame(
            {
                "o_orderkey": [key[0]],
                "header_total": [
                    math.floor(float(odf["o_totalprice"].iloc[0]) * 100 + 0.5)
                    / 100
                ],
                # floor cent-math (the f8 rule): pins the ROUNDING
                # expression to the oracle's; the summation order
                # itself still differs (numpy vs SQL), so a group sum
                # within 1 ulp of a half-cent boundary could in
                # principle still flip — none do in these fixtures
                "line_total": [math.floor(rev * 100 + 0.5) / 100],
                "n_lines": [len(ldf)],
            }
        )

    return (
        o.groupBy("o_orderkey")
        .cogroup(li.groupBy("l_orderkey"))
        .applyInPandas(
            reconcile,
            "o_orderkey long, header_total double, line_total double,"
            " n_lines long",
        )
    )


@query(
    "a15_csv_roundtrip",
    section="A2,A3,G4",
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total,
       CAST(min(year(o_orderdate)) AS BIGINT) AS first_year,
       CAST(max(year(o_orderdate)) AS BIGINT) AS last_year
FROM orders
GROUP BY 1
""",
)
def a15_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed CSV interchange, full roundtrip: orders (longs, doubles,
    dates, strings) written as headered CSV with an explicit
    timestampFormat, read back schema-on-read with the SAME explicit
    schema + pinned timestampFormat (never inferSchema on a
    production feed — one extra full scan and type drift; and never
    an unpinned format — a mismatch NULLs the column silently in
    PERMISSIVE mode rather than erroring), then aggregated. Matching the
    oracle computed from the parquet original proves every value
    class survived text serialization bit-faithfully (doubles via
    round(2) at the agg edge — the fixture's prices are 2-dp
    decimals, exact in both directions).

    100 TB: CSV is the interchange edge, not the lake format —
    splittable and parallel to read, but no column pruning, stats, or
    compression locality; this query is the documented on/off-ramp,
    with parquet (a1/a3) as the resident layout."""
    o = table(spark, sf_dir, "orders")
    out = deferred_tempdir("sgs_a15_")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSS"  # both sides pinned: read
    # nulls (not errors) on format mismatch in PERMISSIVE mode, so an
    # unpinned format would silently null the whole column
    (
        o.select(cols)
        .write.mode("overwrite")
        .option("header", "true")
        .option("timestampFormat", ts_fmt)
        .csv(out)
    )
    back = (
        spark.read.schema(
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
        )
        .option("header", "true")
        .option("timestampFormat", ts_fmt)
        .csv(out)
    )
    return back.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.min(F.year("o_orderdate")).cast("long").alias("first_year"),
        F.max(F.year("o_orderdate")).cast("long").alias("last_year"),
    )


@query(
    "a16_jsonl_roundtrip",
    section="A2,A3,G9",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS total,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS ksum
FROM events
GROUP BY 1
""",
)
def a16_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines interchange, full roundtrip with NESTING: events are
    written as JSONL with props parsed into a real nested object (not
    a string), read back schema-on-read with an explicit nested
    schema, and the nested field aggregated from its STRUCT form —
    the schema-full path (one parse per row) rather than g9's
    path-at-a-time extraction. The oracle recomputes from the parquet
    original, so serialization of longs, doubles, strings, and the
    nested object all roundtrip provably.

    100 TB: JSONL is the event-ingestion edge (append-friendly,
    schema-flexible); explicit read schemas keep it one-pass, and the
    first hop into the lake converts to parquet (a3) for pruning."""
    e = table(spark, sf_dir, "events")
    out = deferred_tempdir("sgs_a16_")
    (
        e.select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.from_json("props", "k long").alias("props"),
        )
        .write.mode("overwrite")
        .json(out)
    )
    back = spark.read.schema(
        "event_id long, user_id long, event_type string, value double, "
        "props struct<k: long>"
    ).json(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
        F.sum(F.col("props.k")).alias("ksum"),
    )


@query(
    "a17_orc_roundtrip",
    section="A1,A3",
    oracle="""
SELECT l_returnflag AS flag, l_linestatus AS status,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
GROUP BY 1, 2
""",
)
def a17_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange, full roundtrip: lineitem written as ORC (the
    other columnar lake format Spark ships a vectorized reader for —
    stripe/row-group statistics, predicate pushdown, column pruning,
    same as parquet), read back, and run through the Q1-shape
    aggregate. Matching the oracle computed from the parquet original
    proves the columnar roundtrip preserves every value class the
    engine's core queries touch. DuckDB cannot read ORC, so the
    oracle reads the SOURCE table — which is the stronger statement
    anyway: bytes in parquet == bytes through ORC.

    100 TB: format choice is a swap-in — every A1 property
    (PushedFilters, ReadSchema pruning) holds for the ORC scan too;
    this query keeps the claim tested rather than assumed."""
    li = table(spark, sf_dir, "lineitem")
    out = deferred_tempdir("sgs_a17_")
    li.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_linestatus").alias("status"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


@query(
    "j9_arrow_udf",
    section="J1,J2",
    oracle="""
SELECT l_orderkey, l_linenumber,
       floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000 + 0.5)
         / 10000 AS gross_price
FROM lineitem
WHERE l_quantity >= 45
""",
)
def j9_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-OPTIMIZED Python UDF (``useArrow=True``, Spark 3.5+/4):
    same lambda authoring model as the j1 row-at-a-time exhibit, but
    the boundary crossing is Arrow-batched — Spark vectorizes the
    serialization while the function still sees scalars. The middle
    rung of the UDF-performance ladder this module declares end to
    end: j1 pickled rows < j9 Arrow-batched scalars < j2 pandas_udf
    true vectorization < pure expressions (the oracle's form, and the
    hot-path rule). Same pre-filter discipline: only the qualifying
    ~1/10 of rows cross into Python. Quantization is the
    floor(x*1e4 + 0.5)/1e4 cent-math form (every op a single
    correctly-rounded IEEE op, bit-identical across engines) — the
    3-factor product lands exactly ON a round-half boundary for one
    sf0.01 row, where engine round() implementations disagree."""
    gross = F.udf(
        lambda p, d, t: p * (1 - d) * (1 + t), T.DoubleType(), useArrow=True
    )
    q = F.floor(
        gross("l_extendedprice", "l_discount", "l_tax") * 10000 + 0.5
    ) / 10000
    return (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_linenumber", q.alias("gross_price"))
    )
