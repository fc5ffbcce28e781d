"""Scale-technique operators made user-visible: runtime bloom-filter
semi joins and Z-order (Morton) layout clustering. Both techniques are
what keep a 100 TB scan/join cheap; both are expressed here as
declared, ORACLE-CHECKED queries so their semantics (not just their
plans) are verified.

* c10_bloom_semi_join — the explicit form of Spark's own runtime
  bloom-filter join (``spark.sql.optimizer.runtime.bloomFilter.*``):
  build a compact bitset over the dimension keys, broadcast it as a
  LITERAL (8-160 KB), apply it as a map-side pre-filter on the fact
  scan, and only then run the exact semi join on the survivors. False
  positives are removed by the join, false negatives are impossible,
  so the result is exactly the semi join — which is the oracle.
* a8_zorder_layout — interleave the bits of two correlated-access
  columns into one Morton key; range-bucketing that key gives files
  whose min/max envelopes are TIGHT on BOTH dimensions, which is what
  makes multi-dimensional data skipping work (the write path is
  ``repartitionByRange(zv).sortWithinPartitions(zv)`` + the a7
  partitioned sink; this query verifies the key math and surfaces the
  per-bucket envelopes a reader would prune with).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_glove_spark.registry import defer_cleanup, deferred_tempdir, query
from spark_glove_spark.sources import table

_BLOOM_SEEDS = (11, 23, 47)  # k = 3 hash functions


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "r",
    num_partitions: int = 32,
) -> tuple[DataFrame, int]:
    """EXACT global 1-based row_number over ``order_cols`` WITHOUT an
    unpartitioned window (planlint's r9 rule) — the classic two-pass
    distributed ranking:

    1. range-repartition on the order key (Spark's RangePartitioner:
       partition i's key range precedes partition i+1's) and PIN with
       an eager ``localCheckpoint``, so both passes — and ANY later
       re-execution of the returned DataFrame — read the same
       materialized partitioning (ADVICE r9: a plain persist released
       by defer_unpersist would let a re-execution re-run the range
       sampler with NEW boundaries while the rank offsets below stay
       baked in as literals — silently wrong ranks);
    2. count rows per partition — ONE bounded collect of
       ≤ ``num_partitions`` rows — and turn the cumulative counts
       into a literal pid→offset map;
    3. rank WITHIN each partition (a partitioned window, parallel by
       construction) and add the offset.

    ``order_cols`` must form a UNIQUE key (callers pass a tiebreaking
    key): ranks are then a pure function of the total order, so
    results are identical to the single-partition ``Window.orderBy``
    form — same oracles — while each task sorts only its range slice.
    Returns ``(ranked_df, total_rows)``; the total is free (sum of
    the pass-2 counts) and callers use it for closed-form
    ntile/bucket arithmetic. The checkpointed blocks live until the
    DataFrame is garbage-collected — bounded: every call site feeds
    it a value-domain aggregate, never the fact table.

    100 TB caveat (ADVICE r10): ``localCheckpoint`` blocks are
    NON-REPLICATED and non-fault-tolerant — on a real cluster an
    executor loss makes the pinned frame unrecoverable (the job fails
    and retries from the source; correctness holds, the pin's cost is
    re-paid). That trade is right HERE because the pinned input is a
    value-domain aggregate (≤ distinct-value rows), so the blocks are
    tiny and re-derivation is one aggregate away; a caller pinning
    anything fact-sized or long-lived should use reliable
    ``checkpoint()`` against the cluster checkpoint dir instead."""
    from pyspark.sql import Window

    t = (
        df.repartitionByRange(num_partitions, *order_cols)
        .withColumn("_gr_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        r["_gr_pid"]: r["n"]
        for r in t.groupBy("_gr_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    items: list = []
    cum = 0
    for pid in sorted(counts):
        items += [F.lit(pid), F.lit(cum)]
        cum += counts[pid]
    offset = (
        F.element_at(F.create_map(*items), F.col("_gr_pid"))
        if items
        else F.lit(0)
    )
    w = Window.partitionBy("_gr_pid").orderBy(*order_cols)
    ranked = t.withColumn(
        rank_col, (F.row_number().over(w) + offset).cast("long")
    ).drop("_gr_pid")
    return ranked, cum


def global_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    out_cols: list[str],
    inclusive: bool = True,
    num_partitions: int = 32,
) -> DataFrame:
    """EXACT running totals over a global order WITHOUT an
    unpartitioned window — :func:`global_rank`'s prefix-SUM sibling
    (same two-pass shape): range-repartition + eager localCheckpoint
    (same ADVICE r9 pin as global_rank — the literal offsets below
    must never meet a re-sampled partitioning), collect the
    ≤ ``num_partitions`` per-partition totals of each ``sum_cols``
    entry, then add the cumulative-preceding-partition offset to a
    PARTITIONED within-slice running sum. ``inclusive=False`` gives
    the strictly-preceding prefix (rowsBetween(-inf, -1), 0 at each
    slice head).

    ``order_cols`` must form a UNIQUE key (ADVICE r9: this uses a
    ROWS frame, so for duplicate keys each tied row would get a
    tie-order-dependent running value where SQL's default RANGE frame
    gives ties EQUAL cumulative values — the oracle-equivalence claim
    below holds only key-uniquely, the same contract as
    :func:`global_rank`'s tiebreak requirement; current call sites
    pass distinct keys). Results are then a pure function of the
    total order, so oracles written against
    ``sum() OVER (ORDER BY ...)`` hold unchanged while every task
    scans only its range slice."""
    from pyspark.sql import Window

    t = (
        df.repartitionByRange(num_partitions, *order_cols)
        .withColumn("_gp_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = t.groupBy("_gp_pid").agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    ).collect()
    by_pid = {r["_gp_pid"]: r for r in totals}
    hi = 0 if inclusive else -1
    w = (
        Window.partitionBy("_gp_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    out = t
    for c, name in zip(sum_cols, out_cols):
        items: list = []
        cum = 0
        for pid in sorted(by_pid):
            items += [F.lit(pid), F.lit(cum)]
            cum += by_pid[pid][c] or 0
        offset = (
            F.element_at(F.create_map(*items), F.col("_gp_pid"))
            if items
            else F.lit(0)
        )
        out = out.withColumn(
            name, F.coalesce(F.sum(c).over(w), F.lit(0)) + offset
        )
    return out.drop("_gp_pid")


def _bloom_words(spark: SparkSession, keys: DataFrame, key: str) -> tuple[list[int], int]:
    """Build an m-bit bloom bitset over ``keys[key]`` as a list of
    signed 64-bit words. m is sized at ~12 bits/key (fp < 2%), so the
    driver-side state is ~1.5 bytes/key and the collected position set
    is bounded by min(k*n, m) — never the fact table.
    """
    n_keys = keys.count()
    m = 1 << max(12, math.ceil(math.log2(max(1, 12 * n_keys))))
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    F.expr(f"pmod(xxhash64({key}, {s}L), {m})")
                    for s in _BLOOM_SEEDS
                ]
            )
        ).alias("p")
    ).distinct()
    bits = [0] * (m // 64)
    for (p,) in pos.collect():
        bits[p // 64] |= 1 << (p % 64)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in bits]
    return words, m


@query(
    "c10_bloom_semi_join",
    section="C4,G7",
    tags=("scale",),
    oracle="""
SELECT l_returnflag, count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
WHERE l_orderkey IN
      (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY 1
""",
)
def c10_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join lineitem -> urgent orders through an explicit bloom
    pre-filter: the dimension keys are hashed (k=3, ~12 bits/key) into
    a bitset shipped to the fact scan as one array literal; only rows
    passing all three bit tests reach the exact semi join. Exactly the
    semi-join result (bloom FPs are re-verified, FNs impossible), so
    the oracle is the plain semi join.

    Plan shape: the bit tests are codegen'd expressions on the scan —
    the fact-side shuffle input shrinks by (1 - selectivity - fp)
    before any exchange. This is what Spark's runtime bloom join
    injects automatically; written out here so the engine exposes it
    on demand (e.g. for non-equi pre-filters Catalyst won't infer).
    """
    dim = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
        .distinct()
    )
    words, m = _bloom_words(spark, dim, "o_orderkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    probe = li.withColumn("_w", F.lit(words))
    pred = F.lit(True)
    for s in _BLOOM_SEEDS:
        p = f"pmod(xxhash64(l_orderkey, {s}L), {m})"
        pred = pred & F.expr(
            f"(shiftright(element_at(_w, CAST({p} div 64 AS INT) + 1), "
            f"CAST({p} % 64 AS INT)) & 1) = 1"
        )
    survivors = probe.where(pred).drop("_w")
    exact = survivors.join(
        dim, survivors["l_orderkey"] == dim["o_orderkey"], "left_semi"
    )
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "a8_zorder_layout",
    section="A1,G5,F1",
    tags=("scale",),
    oracle="""
WITH b AS (
    SELECT CAST(o_custkey AS BIGINT) AS xv,
           CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS yv
    FROM orders
),
mm AS (
    SELECT min(xv) AS mnx, max(xv) AS mxx, min(yv) AS mny, max(yv) AS mxy
    FROM b
),
s AS (
    SELECT xv, yv,
           ((xv - mnx) * 65535) // greatest(1, mxx - mnx) AS xs,
           ((yv - mny) * 65535) // greatest(1, mxy - mny) AS ys
    FROM b, mm
),
z AS (
    SELECT xv, yv,
           CAST(list_sum(list_transform(range(0, 16),
               i -> (((xs >> i) & 1) << (2 * i))
                  + (((ys >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zv
    FROM s
)
SELECT CAST(zv >> 24 AS BIGINT) AS bucket,
       count(*) AS n_rows,
       min(xv) AS min_cust, max(xv) AS max_cust,
       min(yv) AS min_day, max(yv) AS max_day
FROM z GROUP BY 1
""",
)
def a8_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key over orders(o_custkey, o_orderdate): both
    dimensions are min/max-normalized to the full 16-bit range (the
    step every real Z-order writer does — without it a narrow column
    contributes no high interleave bits and the key degenerates to a
    single-dimension sort), Morton-interleaved, and bucketed by the
    key's top 8 bits. Output: each bucket's min/max envelope on BOTH
    source dimensions — the statistics a reader prunes with; tightness
    on both dims is asserted in tests/test_analytics.py.

    Production write path: ``df.repartitionByRange(N, zv)
    .sortWithinPartitions(zv).write...`` (+ a7's partitioned sink) so
    parquet row-group min/max stats on o_custkey AND o_orderdate both
    become selective. The bounds pass is one tiny broadcast aggregate;
    the key math is pure codegen — no shuffle beyond the final bounded
    per-bucket aggregate.
    """
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("bigint").alias("xv"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("yv"),
    )
    bounds = o.agg(
        F.min("xv").alias("mnx"),
        F.max("xv").alias("mxx"),
        F.min("yv").alias("mny"),
        F.max("yv").alias("mxy"),
    )
    s = (
        o.crossJoin(F.broadcast(bounds))
        .withColumn(
            "xs",
            F.expr("((xv - mnx) * 65535) div greatest(1L, mxx - mnx)"),
        )
        .withColumn(
            "ys",
            F.expr("((yv - mny) * 65535) div greatest(1L, mxy - mny)"),
        )
    )
    z = s.withColumn(
        "zv",
        F.expr(
            "aggregate(sequence(0, 15), 0L, (acc, i) -> acc"
            " + shiftleft(shiftright(xs, i) & 1, 2 * i)"
            " + shiftleft(shiftright(ys, i) & 1, 2 * i + 1))"
        ),
    )
    return z.groupBy(F.shiftright("zv", 24).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("xv").alias("min_cust"),
        F.max("xv").alias("max_cust"),
        F.min("yv").alias("min_day"),
        F.max("yv").alias("max_day"),
    )


@query(
    "a9_bucketed_join",
    section="A3,C2,F1",
    tags=("scale",),
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= DATE '1994-01-01'
GROUP BY 1
""",
)
def a9_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketed layout — the write-side investment
    that removes the per-query shuffle from repeated large x large
    joins: both sides are written ``bucketBy(8, key).sortBy(key)``
    (hash-partitioned AND pre-sorted files), so the sort-merge join
    reads matching buckets pairwise with NO Exchange and NO Sort on
    either side (plan asserted in tests/test_scale.py; the existing
    ``test_bucketed_join_is_shuffle_free`` guards the same property
    conf-free via this query's layout).

    ``hint("merge")`` pins SMJ so the demonstration doesn't silently
    degrade to a broadcast join on small fixtures — at 100 TB neither
    side broadcasts and this IS the only shuffle-free plan. The date
    filter is applied at read-back and reaches the bucketed scan as a
    pushed filter; bucket pruning would additionally apply to
    key-equality predicates. Result values are layout-independent,
    which is exactly what the oracle checks: the plain shuffled join
    must produce the identical table.
    """
    import uuid

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    tmp = deferred_tempdir("bucketed_")
    # Per-run unique table names: permanent catalog entries with fixed
    # names would collide across concurrent runs sharing a warehouse.
    run_id = uuid.uuid4().hex[:8]
    t_orders = f"sgs_bucketed_orders_{run_id}"
    t_lineitem = f"sgs_bucketed_lineitem_{run_id}"
    for df, name, key in (
        (o, t_orders, "o_orderkey"),
        (li, t_lineitem, "l_orderkey"),
    ):
        # One file per bucket: repartition(8, key) uses the same
        # murmur3-mod-8 hash as the bucketizer, so each write task
        # holds exactly one bucket and sortBy yields files whose
        # order Spark TRUSTS at read time. With multiple files per
        # bucket the scan keeps its bucketing (no Exchange) but
        # re-sorts both sides — half the point of the layout.
        (
            df.repartition(8, F.col(key))
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{tmp}/{name}")
            .mode("overwrite")
            .saveAsTable(name)
        )
    # Spark >=3.0 ignores sortBy order at read time unless this conf
    # is on (it is only valid with one file per bucket — guaranteed by
    # the repartition above). Without it the join stays Exchange-free
    # but re-sorts both sides; with it the files' order is trusted and
    # the SMJ reads matching buckets with no Sort either. Physical
    # planning reads the conf at ACTION time (after this function
    # returns), so it can't be restored inline; a deferred cleanup
    # restores it — and drops the temp tables — once the caller has
    # consumed the result (next declared query's safe point).
    _ORDERING_CONF = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    prior = spark.conf.get(_ORDERING_CONF, None)
    spark.conf.set(_ORDERING_CONF, "true")

    def _restore() -> None:
        if prior is None:
            spark.conf.unset(_ORDERING_CONF)
        else:
            spark.conf.set(_ORDERING_CONF, prior)
        for t in (t_orders, t_lineitem):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    defer_cleanup(_restore)
    bo = spark.table(t_orders).where(
        F.col("o_orderdate") >= F.lit("1994-01-01")
    )
    bl = spark.table(t_lineitem)
    return (
        bl.hint("merge")
        .join(bo, bl["l_orderkey"] == bo["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )
