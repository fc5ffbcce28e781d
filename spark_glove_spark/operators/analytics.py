"""Event/warehouse analytics operators — the product-analytics and
table-maintenance surface a query engine is expected to carry beyond
the relational core: ordered funnels, cohort retention, slowly
changing dimensions (SCD2), MERGE/upsert (CDC apply), and dataset
profiling. All five are deterministic SQL compositions, so every one
is FULLY oracle-checked.

Scale notes (100 TB):
  * e6/e7/e8 shuffle only on ``user_id`` — one partitioning reused
    across every stage (Catalyst reuses the Exchange when the key is
    unchanged), never on raw events cross-key.
  * f8 is the canonical CDC apply: one full-outer join on the table
    key. On a real lakehouse the base side would be bucketed by the
    key so only the (much smaller) change set shuffles.
  * d10 profiles every column in ONE corpus pass; the exact
    count-distinct is the only expand-multiplying measure — swap it
    for ``approx_count_distinct`` at petabyte scale (documented in
    the docstring; the oracle needs the exact form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_glove_spark.registry import deferred_tempdir, query
from spark_glove_spark.sources import scalar_bounds, table

# SCD2 open-row convention: the current row's validity ends at a
# far-future sentinel (avoids NULL-timestamp comparator cells). Not
# the classic 9999-12-31: that overflows Arrow's nanosecond timestamp
# range (max 2262-04-11) during toPandas conversion.
_SCD2_OPEN_END = "2100-01-01 00:00:00"


@query(
    "e6_funnel",
    section="E2,D5,C4",
    tags=("analytics",),
    oracle="""
WITH s1 AS (
    SELECT user_id, min(ts) AS t1 FROM events
    WHERE event_type = 'signup' GROUP BY 1
),
s2 AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN s1 ON e.user_id = s1.user_id
    WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1
),
s3 AS (
    SELECT e.user_id, min(e.ts) AS t3
    FROM events e JOIN s2 ON e.user_id = s2.user_id
    WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1
),
r AS (
    SELECT 1 AS stage FROM s1
    UNION ALL SELECT 2 FROM s2
    UNION ALL SELECT 3 FROM s3
),
p AS (SELECT stage, count(*) AS n_users FROM r GROUP BY 1)
SELECT stage, n_users,
       round(CAST(n_users AS DOUBLE)
             / max(CASE WHEN stage = 1 THEN n_users END) OVER (), 6)
         AS conversion
FROM p
""",
)
def e6_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (signup -> click -> purchase): a user
    reaches stage N only with an event strictly after their stage-N-1
    entry time. Output: per-stage reached-user counts and conversion
    vs stage 1.

    Plan shape: three groupBy/join stages ALL keyed on user_id, so one
    hash partitioning carries through (no cross-key shuffle); the
    final window runs over 3 aggregate rows.
    """
    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    reached = (
        s1.select(F.lit(1).alias("stage"))
        .unionAll(s2.select(F.lit(2).alias("stage")))
        .unionAll(s3.select(F.lit(3).alias("stage")))
    )
    per_stage = reached.groupBy("stage").agg(F.count(F.lit(1)).alias("n_users"))
    # Global window over exactly 3 rows — bounded by construction.
    w = Window.partitionBy()
    return per_stage.select(
        "stage",
        "n_users",
        F.round(
            F.col("n_users").cast("double")
            / F.max(F.when(F.col("stage") == 1, F.col("n_users"))).over(w),
            6,
        ).alias("conversion"),
    )


@query(
    "e7_retention_cohorts",
    section="E1,G4,D3",
    tags=("analytics",),
    oracle="""
WITH coh AS (
    SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cw
    FROM events GROUP BY 1
),
act AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS aw
    FROM events
)
SELECT strftime(c.cw, '%Y-%m-%d') AS cohort_week,
       CAST((a.aw - c.cw) // 7 AS INT) AS week_offset,
       count(*) AS n_users
FROM act a JOIN coh c ON a.user_id = c.user_id
GROUP BY 1, 2
""",
)
def e7_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: cohort = week of a user's first event,
    cell (cohort_week, week_offset) = distinct users from that cohort
    active ``offset`` weeks later. The standard retention triangle.

    Plan shape: both the cohort assignment and the per-(user, week)
    activity dedup key on user_id; the join is co-partitioned and the
    final aggregate is bounded by weeks x offsets, not by events.
    """
    e = table(spark, sf_dir, "events").select("user_id", "ts")
    coh = e.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cw")
    )
    act = e.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("aw")
    ).distinct()
    return (
        act.join(coh, "user_id")
        .groupBy(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(F.datediff("aw", "cw") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "e8_scd2_history",
    section="E3,C8",
    tags=("analytics",),
    oracle=f"""
WITH d AS (
    SELECT user_id, event_type AS state, ts, event_id,
           lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
)
SELECT user_id, state, ts AS valid_from,
       coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                TIMESTAMP '{_SCD2_OPEN_END}') AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM d WHERE prev IS NULL OR prev <> state
""",
)
def e8_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from an event log: track
    each user's event_type as a versioned state — one row per state
    CHANGE with [valid_from, valid_to) and a 2100-01-01 open-row
    sentinel (chosen instead of the classic 9999-12-31 because Arrow
    nanosecond timestamps overflow past 2262). (ts, event_id) is the
    deterministic ordering tiebreak.

    Plan shape: two windows over the same (user_id | ts, event_id)
    ordering — Spark computes both in one sort, one shuffle total;
    state per key is one row (lag/lead), never the full history.
    """
    e = table(spark, sf_dir, "events").select(
        "user_id", F.col("event_type").alias("state"), "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        e.withColumn("prev", F.lag("state").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("state")))
        .drop("prev")
    )
    nxt = F.lead("ts").over(w)
    return changed.select(
        "user_id",
        "state",
        F.col("ts").alias("valid_from"),
        F.coalesce(nxt, F.lit(_SCD2_OPEN_END).cast("timestamp")).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# The deterministic change set as one SQL CTE body — composed into
# MERGE_ORACLE (f8/i11) AND f9_snapshot_diff's oracle, so the
# encodings of the change set (cdc_change_set and both oracles) can
# never drift apart.
CH_CTE_BODY = """
    SELECT o_orderkey AS key,
           CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE 'D' END AS op,
           floor(o_totalprice * 110) / 100 AS new_price
    FROM orders WHERE o_orderkey % 7 < 2
    UNION ALL
    SELECT o_orderkey + 100000000, 'I', floor(o_totalprice * 50) / 100
    FROM orders WHERE o_orderkey % 7 = 2
"""

# Shared by f8_merge_upsert and i11_streaming_upsert: the streaming
# replay of the same change set must converge to the same table.
# Interpolates CH_CTE_BODY so the change-set encoding genuinely has
# one source of truth (an edit there flows into f8/i11 AND f9).
MERGE_ORACLE = f"""
WITH ch AS ({CH_CTE_BODY})
SELECT coalesce(b.o_orderkey, ch.key) AS o_orderkey,
       CASE WHEN ch.op IN ('U', 'I') THEN ch.new_price
            ELSE b.o_totalprice END AS price,
       CASE WHEN ch.op = 'U' THEN 'updated'
            WHEN ch.op = 'I' THEN 'inserted'
            ELSE 'base' END AS src
FROM orders b FULL OUTER JOIN ch ON b.o_orderkey = ch.key
WHERE ch.op IS NULL OR ch.op <> 'D'
"""


def cdc_change_set(orders: DataFrame) -> DataFrame:
    """The deterministic change set shared by f8 (batch MERGE) and
    i11_streaming_upsert (the same merge applied per micro-batch):
    updates for keys %7==0 (price * 1.1), deletes for %7==1, inserts
    for %7==2 under shifted keys. Prices use floor(x*k)/100 cent math
    so both engines agree bit-for-bit (no round() half-mode
    divergence). Each key appears at most once, so any micro-batch
    slicing of this set converges to the same final table."""
    k = F.col("o_orderkey")
    ch_ud = orders.where(k % 7 < 2).select(
        k.alias("key"),
        F.when(k % 7 == 0, F.lit("U")).otherwise(F.lit("D")).alias("op"),
        (F.floor(F.col("o_totalprice") * 110) / 100).alias("new_price"),
    )
    ins = orders.where(k % 7 == 2).select(
        (k + 100000000).alias("key"),
        F.lit("I").alias("op"),
        (F.floor(F.col("o_totalprice") * 50) / 100).alias("new_price"),
    )
    return ch_ud.unionByName(ins)


def apply_merge(state: DataFrame, changes: DataFrame) -> DataFrame:
    """MERGE INTO core: ``state(o_orderkey, price, src)`` full-outer
    ``changes(key, op, new_price)`` — matched+U -> new value,
    matched+D -> dropped, unmatched I -> insert, untouched state row
    -> passthrough. One shuffle on the merge key; at scale the state
    side is bucketed by key so only the change set moves. Exactly
    what Delta/Iceberg MERGE compiles to."""
    op = F.col("op")
    return (
        state.join(changes, state["o_orderkey"] == changes["key"], "full_outer")
        .where(op.isNull() | (op != "D"))
        .select(
            F.coalesce("o_orderkey", "key").alias("o_orderkey"),
            F.when(op.isin("U", "I"), F.col("new_price"))
            .otherwise(F.col("price"))
            .alias("price"),
            F.when(op == "U", F.lit("updated"))
            .when(op == "I", F.lit("inserted"))
            .otherwise(F.coalesce("src", F.lit("base")))
            .alias("src"),
        )
    )


@query(
    "f8_merge_upsert",
    section="C3,F3,B5",
    tags=("analytics", "cdc"),
    oracle=MERGE_ORACLE,
)
def f8_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (the CDC apply step): the deterministic
    change set from :func:`cdc_change_set` applied to the ``orders``
    base in ONE full-outer join (:func:`apply_merge`).
    i11_streaming_upsert replays the same change set through
    foreachBatch and must converge to this exact table.
    """
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.lit("base").alias("src"),
    )
    return apply_merge(base, cdc_change_set(o))


_APPROX_QS = (0.5, 0.9, 0.99)


@query(
    "d11_approx_percentile",
    section="D2,D4",
    tags=("analytics", "sketch"),
    oracle=None,  # sketch-algorithm-specific values; rank-error tooth in pytest
)
def d11_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-group percentiles via Spark's mergeable
    KLL/GK-style sketch (``percentile_approx``, accuracy 10000 ->
    rank error <= n/10000). The sketch is the 100 TB path: it merges
    associatively across partitions (one map-side sketch per
    partition, constant memory), where the exact percentile needs a
    per-group sort. Rows-only by design — sketch outputs are
    algorithm-specific; tests/test_analytics.py pins each value
    between the exact quantiles at q +/- 1% rank.
    """
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", list(_APPROX_QS), 10000
        ).alias("p")
    )
    return (
        agg.select("l_returnflag", F.posexplode("p").alias("qi", "v"))
        .select(
            "l_returnflag",
            F.element_at(F.lit(list(_APPROX_QS)), F.col("qi") + 1).alias(
                "quantile"
            ),
            F.round("v", 2).alias("approx_value"),
        )
    )


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _profile_oracle() -> str:
    measures = ", ".join(
        f"count({c}) AS nn_{c}, count(DISTINCT {c}) AS nd_{c}, "
        f"round(min({c}), 6) AS mn_{c}, round(max({c}), 6) AS mx_{c}"
        for c in _PROFILE_COLS
    )
    arms = "\nUNION ALL ".join(
        f"SELECT '{c}' AS col_name, n AS n_rows, n - nn_{c} AS n_nulls, "
        f"nd_{c} AS n_distinct, mn_{c} AS min_v, mx_{c} AS max_v FROM a"
        for c in _PROFILE_COLS
    )
    return f"WITH a AS (SELECT count(*) AS n, {measures} FROM lineitem)\n{arms}"


@query(
    "d10_data_profile",
    section="D2,D3,F6",
    tags=("analytics",),
    oracle=_profile_oracle(),
)
def d10_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling: per-column row/null/distinct counts and
    min/max over the lineitem measures, computed in ONE table pass
    (every measure in a single aggregate, then pivoted to one row per
    column with ``inline``).

    Scale note: the exact count-distinct is the one measure that
    multiplies the aggregate input (Catalyst expand, x4 here); at
    petabyte scale substitute ``approx_count_distinct`` — same plan
    minus the expand. Kept exact so the DuckDB oracle matches.
    """
    li = table(spark, sf_dir, "lineitem").select(*_PROFILE_COLS)
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.round(F.min(c), 6).alias(f"mn_{c}"),
            F.round(F.max(c), 6).alias(f"mx_{c}"),
        ]
    one = li.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("n").alias("n_rows"),
            (F.col("n") - F.col(f"nn_{c}")).alias("n_nulls"),
            F.col(f"nd_{c}").alias("n_distinct"),
            F.col(f"mn_{c}").alias("min_v"),
            F.col(f"mx_{c}").alias("max_v"),
        )
        for c in _PROFILE_COLS
    ]
    return one.select(F.inline(F.array(*structs)))


# Count-min sketch geometry: d=3 pairwise-independent integer hashes
# ((a*x + b) mod p) mod w with p = 2^31-1 (Mersenne). All arithmetic
# stays inside int64 (a, x mod p < 2^31 so a*x < 2^62), so BOTH
# engines evaluate the hashes bit-exactly and the sketch itself is
# oracle-checkable — rare for a sketch, possible here because the
# keys are integers.
_CMS_A = (1103515245, 1299709, 15485863)
_CMS_B = (12345, 104729, 32452843)
_CMS_P = 2147483647
_CMS_W = 256


@query(
    "d12_heavy_hitters",
    section="D4,G7",
    tags=("analytics", "sketch"),
    oracle=f"""
WITH h AS (
  SELECT user_id,
         {', '.join(f"(({a} * (user_id % {_CMS_P}) + {b}) % {_CMS_P}) % {_CMS_W} AS b{i}"
                    for i, (a, b) in enumerate(zip(_CMS_A, _CMS_B)))}
  FROM events
),
cms AS (
  SELECT r, bucket, count(*) AS c FROM (
    SELECT 0 AS r, b0 AS bucket FROM h
    UNION ALL SELECT 1, b1 FROM h
    UNION ALL SELECT 2, b2 FROM h
  ) GROUP BY r, bucket
),
est AS (
  SELECT u.user_id, min(cms.c) AS est_count
  FROM (SELECT DISTINCT user_id, b0, b1, b2 FROM h) u
  JOIN cms ON (cms.r = 0 AND cms.bucket = u.b0)
           OR (cms.r = 1 AND cms.bucket = u.b1)
           OR (cms.r = 2 AND cms.bucket = u.b2)
  GROUP BY u.user_id
),
exact AS (SELECT user_id, count(*) AS exact_count FROM events GROUP BY 1)
SELECT user_id, est_count, exact_count
FROM est JOIN exact USING (user_id)
ORDER BY est_count DESC, user_id LIMIT 20
""",
)
def d12_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via an explicit count-min sketch: 3x256 counters
    over integer-hashed user_ids, point-estimate = min over the three
    rows, top-20 by estimate (overestimates only — CMS never
    undercounts, asserted in tests/test_analytics.py alongside the
    eps*N error ceiling). The exact count rides along to make the
    one-sided error visible.

    The 100 TB story is the sketch's shape: the counter table is a
    FIXED 3x256 grid built by one map-side-combinable aggregate —
    mergeable across partitions, streams, and days by cell-wise
    addition, with memory independent of key cardinality. The exact
    per-key count here exists only to exhibit the error bound; a real
    deployment keeps the sketch and drops the exact pass. Every hash
    stays in int64, so even the sketch contents are hash-checked
    against DuckDB — the estimates are bit-reproducible, not just
    bounded.
    """
    e = table(spark, sf_dir, "events")
    h = e.select(
        "user_id",
        *[
            (
                (F.lit(a) * (F.col("user_id") % _CMS_P) + F.lit(b))
                % _CMS_P
                % _CMS_W
            ).alias(f"b{i}")
            for i, (a, b) in enumerate(zip(_CMS_A, _CMS_B))
        ],
    )
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("r"), F.col(f"b{i}").alias("bucket")
                )
                for i in range(3)
            ]
        )
    ).alias("cell")
    cms = (
        h.select(cells)
        .groupBy("cell.r", "cell.bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    users = h.distinct()
    est = (
        users.select("user_id", cells)
        .join(
            cms,
            (F.col("cell.r") == cms["r"])
            & (F.col("cell.bucket") == cms["bucket"]),
        )
        .groupBy("user_id")
        .agg(F.min("c").alias("est_count"))
    )
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        est.join(exact, "user_id")
        .orderBy(F.col("est_count").desc(), "user_id")
        .limit(20)
    )


@query(
    "d13_anomaly_zscore",
    section="D2,B2",
    tags=("analytics",),
    oracle="""
WITH s AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type, round(e.value, 4) AS value,
       round((e.value - s.mu) / s.sd, 4) AS z
FROM events e JOIN s USING (event_type)
WHERE abs((e.value - s.mu) / s.sd) > 3
""",
)
def d13_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier detection: events whose value sits more than 3 sample
    standard deviations from their event-type mean. Two passes over
    the fact table (bounded stats aggregate, then a broadcast join
    back to filter) — the per-group stats table is group-cardinality
    sized, so the filter itself is map-side at any fact scale; no
    window, no per-key state.
    """
    e = table(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        e.join(F.broadcast(s), "event_type")
        .where(F.abs(z) > 3)
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(z, 4).alias("z"),
        )
    )


@query(
    "d14_histogram",
    section="D1,G5",
    tags=("analytics",),
    oracle="""
WITH mm AS (
  SELECT min(value) AS mn, max(value) AS mx FROM events
)
SELECT event_type,
       CAST(least(floor((value - mn) * 10 / greatest(mx - mn, 1e-12)), 9)
                AS BIGINT)
           AS bin,
       count(*) AS n
FROM events, mm
GROUP BY 1, 2
""",
)
def d14_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of ``value`` per event type: 10 bins over
    the global [min, max], top bin closed. The bounds pass is one tiny
    broadcast aggregate; binning is pure codegen arithmetic and the
    final aggregate is bounded by types x bins. The IEEE expression
    ``(value - mn) * 10 / greatest(mx - mn, 1e-12)`` is kept
    structurally identical in both engines, so bin edges are
    bit-reproducible; the ``greatest`` floor degrades a constant
    column to a single bin instead of an ANSI divide-by-zero error.
    """
    e = table(spark, sf_dir, "events")
    mm = e.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    binned = e.crossJoin(F.broadcast(mm)).withColumn(
        "bin",
        F.least(
            F.floor(
                (F.col("value") - F.col("mn"))
                * 10
                / F.greatest(F.col("mx") - F.col("mn"), F.lit(1e-12))
            ),
            F.lit(9),
        ).cast("long"),
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "d15_integrity_audit",
    section="C5,D5,B4",
    tags=("analytics", "quality"),
    oracle="""
SELECT 'orphan_lineitem' AS check_name, count(*) AS n_violations
FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'orphan_order_customer', count(*)
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'nonpositive_price', count(*)
FROM lineitem WHERE l_extendedprice <= 0
UNION ALL
SELECT 'discount_out_of_range', count(*)
FROM lineitem WHERE l_discount < 0 OR l_discount > 0.1
UNION ALL
SELECT 'premature_order_date', count(*)
FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1992-01-01'
""",
)
def d15_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit in one declared result: referential checks
    (lineitem -> orders, orders -> customer) as anti joins, plus three
    domain checks as map-side filters, unioned into a (check_name,
    n_violations) table. The anti joins broadcast the KEY side when it
    fits and otherwise shuffle on the key like any semi join; the
    domain checks are pure scan predicates. This is the shape of a
    nightly pipeline gate at any scale: every check is one bounded
    aggregate, and the union is of 5 scalar rows.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")

    def scalar(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_violations"),
        )

    checks = [
        scalar(
            "orphan_lineitem",
            li.join(
                o, li["l_orderkey"] == o["o_orderkey"], "left_anti"
            ),
        ),
        scalar(
            "orphan_order_customer",
            o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti"),
        ),
        scalar(
            "nonpositive_price", li.where(F.col("l_extendedprice") <= 0)
        ),
        scalar(
            "discount_out_of_range",
            li.where(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
            ),
        ),
        scalar(
            "premature_order_date",
            o.where(
                F.to_date("o_orderdate") < F.lit("1992-01-01").cast("date")
            ),
        ),
    ]
    out = checks[0]
    for df in checks[1:]:
        out = out.unionAll(df)
    return out


@query(
    "d16_regression_agg",
    section="D2,G5",
    tags=("analytics",),
    oracle="""
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4)
           AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
       regr_count(l_extendedprice, l_quantity) AS n
FROM lineitem
GROUP BY 1
""",
)
def d16_regression_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS regression AGGREGATES (slope, intercept, R^2 of price on
    quantity per return flag) — the in-database analytics primitive
    for trend fits without leaving the engine. These are single-pass
    moment aggregates (sums of x, y, xy, x^2, y^2 combined at the
    end), so they're map-side combinable and mergeable like any sum —
    one bounded HashAggregate at any fact scale, same story as the
    CMS/quantile sketches but for second-order moments.
    """
    li = table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 4).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.regr_count(y, x).alias("n"),
    )


@query(
    "g12_listagg",
    section="D7,F1",
    tags=("analytics",),
    oracle="""
SELECT n_nationkey AS nationkey,
       string_agg(s_name, '|' ORDER BY s_name) AS suppliers,
       count(*) AS n
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1
""",
)
def g12_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg — the report
    formatter): supplier names per nation concatenated in sorted
    order. Expressed as sort-inside-aggregate (collect_list ->
    array_sort -> join) so the output is deterministic regardless of
    partitioning — the unordered form is nondeterministic by
    construction and would fail any hash check. The per-group array
    is dimension-bounded here; unbounded groups would cap + overflow
    to a side table (same rule as D7).
    """
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        s.join(
            F.broadcast(n),
            s["s_nationkey"] == n["n_nationkey"],
        )
        .groupBy(F.col("n_nationkey").alias("nationkey"))
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("s_name")), "|"
            ).alias("suppliers"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "d17_quantile_binning",
    section="E1,D1",
    tags=("analytics",),
    oracle="""
WITH b AS (
  SELECT value,
         ntile(10) OVER (ORDER BY value, event_id) AS decile
  FROM events
)
SELECT CAST(decile AS INTEGER) AS decile, count(*) AS n,
       round(min(value), 4) AS lo, round(max(value), 4) AS hi
FROM b GROUP BY 1
""",
)
def d17_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning (decile cut points) — d14's equi-width
    twin, the feature-engineering discretizer, in EXACT semantics at
    scale (planlint r9 unpartitioned-window rule): the global rank
    over the (value, id)-pinned order comes from the two-pass
    range-partitioned ranking (:func:`~.scale_ops.global_rank` —
    range-repartition, rank within partitions, add bounded-collect
    offsets; each task sorts only its range slice), and the decile is
    the CLOSED-FORM ntile bucket of that rank: with N rows, the first
    N mod 10 buckets hold ceil(N/10) rows — exactly SQL ntile's
    distribution, so the ntile(10) oracle is unchanged. The r8-era
    form ran ntile over ONE unpartitioned window — a single-executor
    sort of the whole fact table.

    100 TB: one range shuffle + parallel per-slice sorts + a 10-group
    aggregate; the only driver work is ≤32 partition counts."""
    from spark_glove_spark.operators.scale_ops import global_rank

    e = table(spark, sf_dir, "events")
    ranked, n_total = global_rank(
        e.select("value", "event_id"), ["value", "event_id"]
    )
    q, rem = divmod(n_total, 10)
    head = rem * (q + 1)  # rows covered by the first `rem` fat buckets
    # integer div, not float division — float (r-1)/(q+1) can round
    # just below an integer at large ranks and misplace a boundary row
    decile = (
        F.when(
            F.col("r") <= F.lit(head),
            F.expr(f"(r - 1) div {q + 1}"),
        )
        .otherwise(F.lit(rem) + F.expr(f"(r - 1 - {head}) div {max(q, 1)}"))
        + F.lit(1)
    )
    return (
        ranked.withColumn("decile", decile.cast("int"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


@query(
    "f9_snapshot_diff",
    section="C3,F4,B5",
    tags=("analytics", "cdc"),
    oracle=f"""
WITH ch AS ({CH_CTE_BODY}),
after AS (
    SELECT coalesce(b.o_orderkey, ch.key) AS o_orderkey,
           CASE WHEN ch.op IN ('U', 'I') THEN ch.new_price
                ELSE b.o_totalprice END AS price
    FROM orders b FULL OUTER JOIN ch ON b.o_orderkey = ch.key
    WHERE ch.op IS NULL OR ch.op <> 'D'
)
SELECT coalesce(b.o_orderkey, a.o_orderkey) AS o_orderkey,
       CASE WHEN b.o_orderkey IS NULL THEN 'added'
            WHEN a.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type,
       b.o_totalprice AS old_price,
       a.price AS new_price
FROM orders b FULL OUTER JOIN after a ON b.o_orderkey = a.o_orderkey
WHERE b.o_orderkey IS NULL OR a.o_orderkey IS NULL
   OR b.o_totalprice <> a.price
""",
)
def f9_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — CDC GENERATION, the inverse of f8's CDC apply:
    given two table versions (here: orders, and orders after the f8
    change set), one full-outer join recovers exactly the rows that
    were added, removed, or changed — which round-trips the change
    set the apply consumed (added = the I rows, removed = the D rows,
    changed = the U rows; the identity is what the oracle checks).
    This is how a pipeline without a CDC feed manufactures one from
    periodic snapshots. One shuffle on the key; at scale both
    snapshots are bucketed by key (a9's layout) and the diff is
    co-located — or the comparison short-circuits file-level with
    content hashes per bucket before any row-level join.
    """
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.lit("base").alias("src"),
    )
    after = apply_merge(base, cdc_change_set(o)).select(
        "o_orderkey", F.col("price").alias("new_price")
    )
    b = o.select("o_orderkey", F.col("o_totalprice").alias("old_price"))
    j = b.join(
        after,
        b["o_orderkey"] == after["o_orderkey"],
        "full_outer",
    )
    return (
        j.select(
            F.coalesce(b["o_orderkey"], after["o_orderkey"]).alias(
                "o_orderkey"
            ),
            F.when(b["o_orderkey"].isNull(), "added")
            .when(after["o_orderkey"].isNull(), "removed")
            .otherwise("changed")
            .alias("change_type"),
            "old_price",
            "new_price",
        )
        .where(
            F.col("change_type").isin("added", "removed")
            | (F.col("old_price") != F.col("new_price"))
        )
    )


@query(
    "d18_percent_change",
    section="E3,D1,G4",
    tags=("analytics",),
    oracle="""
WITH monthly AS (
  SELECT strftime(date_trunc('month', CAST(o_orderdate AS DATE)),
                  '%Y-%m') AS month,
         round(sum(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
       round(lag(revenue) OVER (ORDER BY month), 2) AS prev_revenue,
       floor((revenue - lag(revenue) OVER (ORDER BY month))
             / lag(revenue) OVER (ORDER BY month) * 1000000 + 0.5)
           / 10000 AS pct_change
FROM monthly
""",
)
def d18_percent_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period change — the month-over-month revenue delta
    every BI layer reports: fact-sized work collapses into the
    monthly aggregate FIRST (map-side-combinable), then a single lag
    window runs over the ~dozens-of-rows series, so the window cost
    is independent of fact scale (the same pre-aggregate-then-window
    discipline as e9). First month's change is NULL by construction.
    Percentages use the floor half-up idiom — ratios land on exact
    rounding ties more often than raw sums do.
    """
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        F.round(prev, 2).alias("prev_revenue"),
        (
            F.floor(
                (F.col("revenue") - prev) / prev * 1000000 + 0.5
            )
            / 10000
        ).alias("pct_change"),
    )


@query(
    "d19_mad_outliers",
    section="D1,E1,G5",
    tags=("analytics", "quality"),
    oracle="""
WITH s AS (SELECT event_type, value FROM events),
rk AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM s
),
med AS (
  SELECT event_type, avg(value) AS med
  FROM rk
  WHERE rn IN (CAST(floor((n + 1) / 2.0) AS BIGINT),
               CAST(floor((n + 2) / 2.0) AS BIGINT))
  GROUP BY 1
),
dev AS (
  SELECT s.event_type, s.value, abs(s.value - m.med) AS dev, m.med
  FROM s JOIN med m USING (event_type)
),
rk2 AS (
  SELECT event_type, dev,
         row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (
  SELECT event_type, avg(dev) AS mad
  FROM rk2
  WHERE rn IN (CAST(floor((n + 1) / 2.0) AS BIGINT),
               CAST(floor((n + 2) / 2.0) AS BIGINT))
  GROUP BY 1
)
SELECT d.event_type,
       count(*) AS n_events,
       round(any_value(d.med), 6) AS median_value,
       round(any_value(t.mad), 6) AS mad,
       CAST(sum(CASE WHEN d.dev > 3 * 1.4826 * t.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad t USING (event_type)
GROUP BY 1
""",
)
def d19_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — d13's
    z-score twin for heavy-tailed metrics where mean/stddev are
    themselves dragged by the outliers. Exact medians computed the
    MANUAL way (rank + average of the middle one/two rows) rather
    than percentile built-ins, because the two engines' interpolation
    kernels need not agree bit-for-bit while rank selection does —
    so med and mad are bit-identical across engines and the 3-sigma-
    equivalent cut (dev > 3 * 1.4826 * mad) is deterministic.

    Plan: two rank-window passes over a per-type partition (one sort
    shuffle each) + broadcast-sized med/mad joins back. At fact scale
    swap the exact ranks for approx_percentile and keep the same
    downstream shape — documented tradeoff, same as d17.
    """
    e = table(spark, sf_dir, "events").select("event_type", "value")
    wr = Window.partitionBy("event_type").orderBy("value")
    wn = Window.partitionBy("event_type")
    rk = e.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    mid = lambda n, off: F.floor((n + off) / 2.0).cast("long")  # noqa: E731
    med = (
        rk.where(
            (F.col("rn") == mid(F.col("n"), 1))
            | (F.col("rn") == mid(F.col("n"), 2))
        )
        .groupBy("event_type")
        .agg(F.avg("value").alias("med"))
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
    )
    wr2 = Window.partitionBy("event_type").orderBy("dev")
    rk2 = dev.withColumn("rn", F.row_number().over(wr2)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    mad = (
        rk2.where(
            (F.col("rn") == mid(F.col("n"), 1))
            | (F.col("rn") == mid(F.col("n"), 2))
        )
        .groupBy("event_type")
        .agg(F.avg("dev").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.any_value("med"), 6).alias("median_value"),
            F.round(F.any_value("mad"), 6).alias("mad"),
            F.sum(
                F.when(
                    F.col("dev") > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


@query(
    "e10_attribution",
    section="E3,E4,D1",
    tags=("analytics",),
    oracle="""
WITH e AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN event_type IN ('view', 'click')
              THEN event_type END AS touch
  FROM events
),
att AS (
  SELECT user_id, ts, event_id, event_type, value,
         first_value(touch IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS first_touch,
         last_value(touch IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS last_touch
  FROM e
),
conv AS (
  SELECT * FROM att
  WHERE event_type = 'purchase' AND last_touch IS NOT NULL
)
SELECT 'first_touch' AS model, first_touch AS channel,
       count(*) AS n_conversions,
       round(sum(value), 2) AS revenue
FROM conv GROUP BY 2
UNION ALL
SELECT 'last_touch', last_touch, count(*), round(sum(value), 2)
FROM conv GROUP BY 2
""",
)
def e10_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution — first-touch vs last-touch revenue
    credit: for every purchase, find the user's first and most recent
    preceding touch event (view/click) and credit the purchase value
    to that channel under each model. The running first/last carry
    ONE value per user (first/last over an unbounded-preceding frame
    with IGNORE NULLS), so the whole attribution is a single sort
    shuffle on user_id — never a self-join of purchases against the
    touch history, which is the quadratic formulation this replaces.

    The frame excludes the current row, so a conversion can never be
    its own touch; (ts, event_id) is the deterministic tiebreak.
    Output: model x channel conversion counts + 2-dp revenue.
    """
    e = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    touch = F.when(
        F.col("event_type").isin("view", "click"), F.col("event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    att = e.select(
        "event_type",
        "value",
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    )
    conv = att.where(
        (F.col("event_type") == "purchase")
        & F.col("last_touch").isNotNull()
    )

    # One subtree, not two: a union of per-model groupBys re-executes
    # the user_id sort window once per branch (column pruning splits
    # the plans, so Spark cannot reuse the subtree); exploding a
    # 2-struct array per conversion keeps one window pass and feeds
    # one (model, channel) aggregate with the identical row multiset.
    credited = conv.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("first_touch").alias("model"),
                    F.col("first_touch").alias("channel"),
                    F.col("value"),
                ),
                F.struct(
                    F.lit("last_touch").alias("model"),
                    F.col("last_touch").alias("channel"),
                    F.col("value"),
                ),
            )
        ).alias("s")
    ).select("s.model", "s.channel", "s.value")
    return credited.groupBy("model", "channel").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.round(F.sum("value"), 2).alias("revenue"),
    )


@query(
    "d20_entropy",
    section="D1,G5",
    oracle="""
WITH k AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) % 16 AS bucket
  FROM events
),
cnt AS (SELECT event_type, bucket, count(*) AS c FROM k GROUP BY 1, 2),
tot AS (SELECT event_type, sum(c) AS n FROM cnt GROUP BY 1)
SELECT cnt.event_type,
       CAST(count(*) AS BIGINT) AS n_buckets,
       round(-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)), 6)
         AS entropy_nats,
       round(-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n))
             / ln(count(*)), 6) AS normalized
FROM cnt JOIN tot ON tot.event_type = cnt.event_type
GROUP BY 1
""",
)
def d20_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy per group — the distribution-shape profiling
    statistic (data-drift monitors, feature audits, label-balance
    checks all reduce to it): H = -sum p*ln(p) over the value-bucket
    distribution of each event type, plus the log-cardinality-
    normalized form in [0, 1]. Two map-side-combined aggregates (the
    bucket counts, then the entropy fold over <= 16 rows per group);
    the float sum spans at most n_buckets terms so round(6) is
    deterministic across engines' summation orders.

    100 TB: the bucket-count aggregate is the only corpus-sized pass;
    entropy itself folds over the tiny per-group histogram — the same
    shape as d14_histogram with a log-weighted reduce on top."""
    e = table(spark, sf_dir, "events")
    bucket = (
        F.get_json_object("props", "$.k").cast("long") % 16
    ).alias("bucket")
    cnt = e.select("event_type", bucket).groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cnt.groupBy("event_type").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        cnt.join(tot, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
            F.round(
                -F.sum(p * F.log(p)) / F.log(F.count(F.lit(1)).cast("double")), 6
            ).alias("normalized"),
        )
    )


@query(
    "a18_txlog_time_travel",
    section="A3,A1,C3",
    tags=("analytics", "cdc"),
    oracle=f"""
WITH v1x AS (SELECT * FROM ({MERGE_ORACLE}) m),
adj AS (
  SELECT o_orderkey + 200000000 AS o_orderkey,
         floor(o_totalprice * 25) / 100 AS price,
         'adjustment' AS src
  FROM orders WHERE o_orderkey % 7 = 3
),
v2x AS (SELECT * FROM v1x UNION ALL SELECT * FROM adj)
SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(o_totalprice), 2) AS total_price,
       CAST(0 AS BIGINT) AS n_changed
FROM orders
UNION ALL
SELECT 1, CAST(count(*) AS BIGINT), round(sum(price), 2),
       CAST(sum(CASE WHEN src <> 'base' THEN 1 ELSE 0 END) AS BIGINT)
FROM v1x
UNION ALL
SELECT 2, CAST(count(*) AS BIGINT), round(sum(price), 2),
       CAST(sum(CASE WHEN src <> 'base' THEN 1 ELSE 0 END) AS BIGINT)
FROM v2x
""",
)
def a18_txlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-table semantics end to end on the txlog format
    (sources/txlog.py — log-structured snapshots, the piece VERDICT
    r4 flagged missing from the f8/i11 mutation surface): version 0
    materializes the orders base state, version 1 OVERWRITES it with
    the deterministic CDC MERGE result (the same change set f8/i11
    oracle-check), version 2 APPENDS an adjustment batch — then all
    three versions are read back BY VERSION NUMBER, after every
    commit has landed, and aggregated. Matching the oracle (which
    reconstructs each state relationally) proves both the merge
    algebra AND the time-travel mechanism: v0's numbers are the
    untouched base even though two later commits replaced and
    extended the table. Snapshot isolation, conflict detection, and
    file immutability are pinned in tests/test_txlog.py.

    100 TB: the log entries are KB-sized JSON regardless of data
    volume; commits move metadata, not data — the property that makes
    lakehouse mutation O(changed files)."""

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders")
    path = deferred_tempdir("sgs_txlog_")
    base = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.lit("base").alias("src"),
    )
    txlog.create(base, path)
    merged = apply_merge(txlog.read(spark, path), cdc_change_set(o))
    txlog.overwrite(merged, path)
    adj = o.where(F.col("o_orderkey") % 7 == 3).select(
        (F.col("o_orderkey") + 200000000).alias("o_orderkey"),
        (F.floor(F.col("o_totalprice") * 25) / 100).alias("price"),
        F.lit("adjustment").alias("src"),
    )
    txlog.append(adj, path)

    def version_agg(v: int) -> DataFrame:
        snap = txlog.read(spark, path, version=v)
        return snap.agg(
            F.lit(v).cast("long").alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("price"), 2).alias("total_price"),
            F.sum(F.when(F.col("src") != "base", 1).otherwise(0))
            .cast("long")
            .alias("n_changed"),
        ).select("version", "n_rows", "total_price", "n_changed")

    return version_agg(0).unionByName(version_agg(1)).unionByName(version_agg(2))


@query(
    "d21_correlation",
    section="D2,G5",
    oracle="""
SELECT event_type,
       round(corr(value, k), 6) AS corr_value_k,
       round(covar_samp(value, k), 6) AS covar_value_k,
       round(stddev_samp(value), 6) AS sd_value,
       round(stddev_samp(k), 6) AS sd_k
FROM (
  SELECT event_type, value,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k
  FROM events
)
GROUP BY 1
""",
)
def d21_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation / sample covariance / sample stddev per
    group — the feature-relationship profile (drift detection and
    feature selection both start here). All four are single-pass
    map-side-combinable moment aggregates (sum, sum of squares, sum
    of cross-products merge like sums), so the 100 TB cost is one
    scan + one tiny-keyed shuffle; round(6) absorbs the engines'
    summation-order ulps on the ~2k-term moment sums."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double").alias("k")
    return (
        e.select("event_type", "value", k)
        .groupBy("event_type")
        .agg(
            F.round(F.corr("value", "k"), 6).alias("corr_value_k"),
            F.round(F.covar_samp("value", "k"), 6).alias("covar_value_k"),
            F.round(F.stddev_samp("value"), 6).alias("sd_value"),
            F.round(F.stddev_samp("k"), 6).alias("sd_k"),
        )
    )


@query(
    "a19_txlog_file_skipping",
    section="A1,A3,B2",
    tags=("analytics",),
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
WHERE o_orderkey <= (SELECT CAST(floor(max(o_orderkey) / 8.0) AS BIGINT)
                     FROM orders)
GROUP BY 1
""",
)
def a19_txlog_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-based FILE SKIPPING on the txlog format (the data-
    skipping half of a lakehouse format, VERDICT r4 item 4): orders
    land range-partitioned by key into 8 file groups, each commit
    records per-file parquet-footer min/max in the log, and a key-
    band read consults ONLY that metadata to drop non-intersecting
    files before Spark plans anything — asserted in-body: the
    predicate keeps a strict subset of files. The kept-files scan
    plus residual filter must equal the full-scan filter — the
    oracle. At 100 TB this is the first pruning tier (log metadata),
    ahead of partition dirs (a7) and row-group stats (b2), and it
    costs zero data reads.

    tests/test_txlog.py pins the mechanism on crafted disjoint
    ranges; this query proves it on fixture data end to end."""

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = deferred_tempdir("sgs_a19_") + "/t"
    txlog.create(o.repartitionByRange(8, "o_orderkey"), path)
    # band = the bottom eighth of the key space, derived from the data
    # so the prune ratio holds at every SF (a fixed band emptied out at
    # sf0.001); one bounded scalar to the driver
    hi = int(o.agg(F.floor(F.max("o_orderkey") / 8.0)).collect()[0][0])
    kept, total = txlog.prune_files(path, "o_orderkey", 0, hi)
    # load-bearing invariant — explicit raise so it survives python -O
    # (ADVICE r5: bare assert is stripped under optimized mode)
    if not (0 < len(kept) < total):
        raise AssertionError(
            f"file skipping must prune: kept {len(kept)} of {total}"
        )
    snap = txlog.read(spark, path, predicate=("o_orderkey", 0, hi))
    return snap.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "a20_txlog_string_skipping",
    section="A1,A3,B2,B3",
    tags=("analytics",),
    oracle="""
SELECT substr(p_name, 1, 1) AS letter,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(p_retailprice), 2) AS total
FROM part
WHERE p_name >= 'a' AND p_name <= 'g'
GROUP BY 1
""",
)
def a20_txlog_string_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING-KEY file skipping on the txlog format (VERDICT r5 item
    3: string keys — URLs, domains, names, ISO dates — are the most
    common partition-key family in practice, and the r5 stats writer
    dropped every bytes-typed footer bound, so skipping never fired
    on them). Parts land range-partitioned by name into 8 file
    groups; each commit records the parquet-footer min/max STRINGS in
    the log; a lexicographic band read prunes non-intersecting files
    on metadata alone (asserted in-body: strict subset kept) and the
    residual filter makes the cut exact — the oracle compares against
    a plain full-scan filter. Temporal keys ride the same path as
    ISO-8601 strings (tests/test_txlog.py pins both)."""

    from spark_glove_spark.sources import txlog

    p = table(spark, sf_dir, "part").select("p_name", "p_retailprice")
    path = deferred_tempdir("sgs_a20_") + "/t"
    txlog.create(p.repartitionByRange(8, "p_name"), path)
    kept, total = txlog.prune_files(path, "p_name", "a", "g")
    # load-bearing invariant — explicit raise so it survives python -O
    if not (0 < len(kept) < total):
        raise AssertionError(
            f"string-key skipping must prune: kept {len(kept)} of {total}"
        )
    snap = txlog.read(spark, path, predicate=("p_name", "a", "g"))
    return snap.groupBy(
        F.substring("p_name", 1, 1).alias("letter")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("p_retailprice"), 2).alias("total"),
    )


@query(
    "a21_txlog_delete",
    section="A3,A1,B2",
    tags=("analytics",),
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
WHERE o_orderkey > (SELECT CAST(floor(max(o_orderkey) / 8.0) AS BIGINT)
                    FROM orders)
GROUP BY 1
""",
)
def a21_txlog_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE on the txlog format (txlog.delete — the
    mutation half a lakehouse needs beyond append/overwrite: GDPR
    erasure, retention pruning, bad-batch rollback). Orders land
    range-partitioned by key into 8 file groups; deleting the bottom
    eighth of the key space (1) prunes candidates on log metadata
    alone, (2) finds the files actually holding matches with one
    candidate-bounded scan, and (3) rewrites ONLY those — asserted
    in-body: strictly fewer files rewritten than the table holds.
    The post-delete read must equal a plain filtered scan (the
    oracle), and the PRE-delete version still time-travels (asserted:
    the old row count survives at version-1).

    100 TB: delete cost is O(matching files), not O(table) — the
    stats tier drops non-intersecting files for free, and untouched
    files carry over by log reference."""

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = deferred_tempdir("sgs_a21_") + "/t"
    txlog.create(o.repartitionByRange(8, "o_orderkey"), path)
    n_before = txlog.read(spark, path).count()
    hi = int(o.agg(F.floor(F.max("o_orderkey") / 8.0)).collect()[0][0])
    res = txlog.delete(
        spark, path, f"o_orderkey <= {hi}", prune=("o_orderkey", 0, hi)
    )
    # load-bearing invariants — explicit raises survive python -O
    if not (0 < res["files_rewritten"] < res["files_total"]):
        raise AssertionError(f"delete must rewrite a strict subset: {res}")
    if txlog.read(spark, path, version=res["version"] - 1).count() != n_before:
        raise AssertionError("pre-delete version no longer time-travels")
    snap = txlog.read(spark, path)
    return snap.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "a22_txlog_merge",
    section="A3,C3,B5",
    tags=("analytics", "cdc"),
    oracle="""
WITH hi AS (SELECT CAST(floor(max(o_orderkey) / 4.0) AS BIGINT) AS h
            FROM orders),
fin AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 AND o_orderkey <= (SELECT h FROM hi)
              THEN floor(o_totalprice * 120) / 100
              ELSE o_totalprice END AS price,
         CASE WHEN o_orderkey % 7 = 0 AND o_orderkey <= (SELECT h FROM hi)
              THEN 'updated' ELSE 'base' END AS src
  FROM orders
  WHERE NOT (o_orderkey % 7 = 1 AND o_orderkey <= (SELECT h FROM hi))
  UNION ALL
  SELECT o_orderkey + 300000000, floor(o_totalprice * 45) / 100, 'inserted'
  FROM orders
  WHERE o_orderkey % 7 = 2 AND o_orderkey <= (SELECT h FROM hi)
)
SELECT src, CAST(count(*) AS BIGINT) AS n, round(sum(price), 2) AS total
FROM fin GROUP BY 1
""",
)
def a22_txlog_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE INTO on the txlog format (txlog.merge):
    where f8 proves the merge ALGEBRA (one full-outer join) and i11
    its incremental replay, this proves the STORAGE side — a U/D/I
    change set confined to the bottom quarter of the key space is
    merged into an 8-file range layout, and only the files whose key
    ranges the change set touches are rewritten (asserted in-body:
    strict subset; inserts land in the fresh rewrite group, never in
    old files). The post-merge table must equal the relational MERGE
    result (the oracle), and the pre-merge version still time-travels.

    100 TB: this is the CDC-apply shape that matters at scale —
    change sets are small and key-local, so merge cost is O(touched
    files) + one broadcast of the change keys, while f8's plain
    full-outer join would rewrite the world every batch."""

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.lit("base").alias("src"),
    )
    path = deferred_tempdir("sgs_a22_") + "/t"
    txlog.create(base.repartitionByRange(8, "o_orderkey"), path)
    n_before = txlog.read(spark, path).count()
    hi = int(o.agg(F.floor(F.max("o_orderkey") / 4.0)).collect()[0][0])
    k = F.col("o_orderkey")
    banded = o.where(k <= hi)
    upd = banded.where(k % 7 == 0).select(
        k.alias("o_orderkey"),
        (F.floor(F.col("o_totalprice") * 120) / 100).alias("price"),
        F.lit("updated").alias("src"),
        F.lit("U").alias("op"),
    )
    dels = banded.where(k % 7 == 1).select(
        k.alias("o_orderkey"),
        F.lit(0.0).alias("price"),
        F.lit("").alias("src"),
        F.lit("D").alias("op"),
    )
    ins = banded.where(k % 7 == 2).select(
        (k + 300000000).alias("o_orderkey"),
        (F.floor(F.col("o_totalprice") * 45) / 100).alias("price"),
        F.lit("inserted").alias("src"),
        F.lit("I").alias("op"),
    )
    src = upd.unionByName(dels).unionByName(ins)
    res = txlog.merge(spark, path, src, on=["o_orderkey"], op_col="op")
    # load-bearing invariants — explicit raises survive python -O
    if not (0 < res["files_rewritten"] < res["files_total"]):
        raise AssertionError(f"merge must rewrite a strict subset: {res}")
    if txlog.read(spark, path, version=res["version"] - 1).count() != n_before:
        raise AssertionError("pre-merge version no longer time-travels")
    snap = txlog.read(spark, path)
    return snap.groupBy("src").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("price"), 2).alias("total"),
    )


@query(
    "a23_txlog_zorder_optimize",
    section="A3,A1,F1,B2",
    tags=("analytics",),
    oracle="""
WITH b AS (
  SELECT o_orderpriority, o_totalprice, CAST(o_custkey AS BIGINT) AS ck,
         CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS days
  FROM orders
),
mm AS (SELECT min(ck) + (max(ck) - min(ck)) // 4 AS hc,
              min(days) + (max(days) - min(days)) // 4 AS hd FROM b)
SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM b, mm WHERE ck <= hc AND days <= hd
GROUP BY 1
""",
)
def a23_txlog_zorder_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ... ZORDER BY on the txlog format: orders land
    hash-shuffled (both dimensions spread across every file, so the
    stats tier can prune NOTHING), then one Z-order compaction
    re-clusters the table on the Morton interleave of (o_custkey,
    days-since-epoch) — and the SAME footer-stats index suddenly
    prunes selectively on EITHER column (asserted in-body: a quarter
    band on each dim keeps a strict subset of files, where pre-
    optimize both kept everything). The banded 2-D read must equal
    the plain filtered scan (the oracle), and the pre-optimize
    version still time-travels. Where a8_zorder_layout proves the key
    math and envelope tightness, this drives the full write→stats→
    prune loop through the table format end to end.

    100 TB: Z-order is the data-layout lever for multi-dimension
    workloads — one clustering pass makes every future selective read
    skip on any clustered column, paid once at OPTIMIZE time."""

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_totalprice",
        F.col("o_custkey").cast("bigint").alias("ck"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("days"),
    )
    path = deferred_tempdir("sgs_a23_") + "/t"
    txlog.create(o.repartition(8), path)
    # quarter bands anchored at each dimension's MIN (a zero-anchored
    # band can miss the data range entirely — the fixture's dates
    # start years after the 1992 epoch)
    b = o.agg(
        F.min("ck").alias("lc"), F.max("ck").alias("xc"),
        F.min("days").alias("ld"), F.max("days").alias("xd"),
    ).collect()[0]
    lc, hc = int(b["lc"]), int(b["lc"] + (b["xc"] - b["lc"]) // 4)
    ld, hd = int(b["ld"]), int(b["ld"] + (b["xd"] - b["ld"]) // 4)
    kc0, t0 = txlog.prune_files(path, "ck", lc, hc)
    kd0, _ = txlog.prune_files(path, "days", ld, hd)
    v0 = txlog.current_version(path)
    txlog.optimize(spark, path, target_files=16, zorder_by=("ck", "days"))
    kc1, t1 = txlog.prune_files(path, "ck", lc, hc)
    kd1, _ = txlog.prune_files(path, "days", ld, hd)
    # load-bearing invariants — explicit raises survive python -O:
    # hash-shuffled layout prunes nothing, Z-ordered prunes BOTH dims
    if not (len(kc0) == len(kd0) == t0):
        raise AssertionError(
            f"hash layout unexpectedly pruned: {len(kc0)}/{len(kd0)} of {t0}"
        )
    if not (len(kc1) < t1 and len(kd1) < t1):
        raise AssertionError(
            f"zorder must prune both dims: ck {len(kc1)}, days {len(kd1)} "
            f"of {t1}"
        )
    if txlog.read(spark, path, version=v0).count() != o.count():
        raise AssertionError("pre-optimize version no longer time-travels")
    snap = txlog.read(spark, path, predicate=("ck", lc, hc)).where(
        F.col("days") <= hd
    )
    return snap.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "a24_txlog_schema_evolution",
    section="A3,A1,B4",
    tags=("analytics",),
    oracle="""
SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
            ELSE 'legacy' END AS channel,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY 1
""",
)
def a24_txlog_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADDITIVE schema evolution on the txlog format (where
    a11_schema_evolution proves the raw-parquet mergeSchema read,
    this proves the MANAGED-table form: the schema lives in the log,
    evolves per version, and time-travels): even-key orders land as
    the v0 two-column table, odd keys append WITH a new ``channel``
    column under ``merge_schema=True``, and the latest read yields
    old rows as null channel ('legacy' via coalesce) against new
    rows' real values — matching the relational reconstruction (the
    oracle). Asserted in-body: the un-opted append raises, and
    version 0 still reads with the ORIGINAL column set (schema time
    travel — columns added later do not exist in older snapshots).

    100 TB: schema changes are one log entry — no data rewrite; old
    files are never touched and read as null in the new column, which
    is exactly Delta/Iceberg's additive-evolution contract."""

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    path = deferred_tempdir("sgs_a24_") + "/t"
    txlog.create(
        o.where(k % 2 == 0).select("o_orderkey", "o_totalprice"), path
    )
    evolved = o.where(k % 2 == 1).select(
        "o_orderkey", "o_totalprice", F.col("o_orderpriority").alias("channel")
    )
    # load-bearing invariants — explicit raises survive python -O
    try:
        txlog.append(evolved, path)
        raise AssertionError("un-opted schema change must raise")
    except ValueError:
        pass
    txlog.append(evolved, path, merge_schema=True)
    if txlog.read(spark, path, version=0).columns != [
        "o_orderkey", "o_totalprice",
    ]:
        raise AssertionError("version 0 must keep the original schema")
    snap = txlog.read(spark, path)
    return snap.groupBy(
        F.coalesce("channel", F.lit("legacy")).alias("channel")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "a25_txlog_change_feed",
    section="A3,A1,C3,F4",
    tags=("analytics", "cdc"),
    oracle="""
WITH b AS (SELECT o_orderkey AS k, o_totalprice AS price FROM orders),
mm AS (SELECT CAST(floor(max(k) / 8.0) AS BIGINT) AS h8,
              CAST(floor(max(k) / 4.0) AS BIGINT) AS h4 FROM b),
u AS (
  SELECT 1 AS v, 'insert' AS t, floor(price * 25) / 100 AS p
  FROM b WHERE k % 7 = 3
  UNION ALL
  SELECT 2, 'delete', price FROM b, mm WHERE k <= h8
  UNION ALL
  SELECT 3, 'delete', price FROM b, mm
  WHERE k > h8 AND k <= h4 AND k % 7 IN (0, 1)
  UNION ALL
  SELECT 3, 'insert', floor(price * 120) / 100 FROM b, mm
  WHERE k > h8 AND k <= h4 AND k % 7 = 0
  UNION ALL
  SELECT 3, 'insert', floor(price * 45) / 100 FROM b, mm
  WHERE k > h8 AND k <= h4 AND k % 7 = 2
)
SELECT v AS commit_version, t AS change_type,
       CAST(count(*) AS BIGINT) AS n, round(sum(p), 2) AS total
FROM u GROUP BY 1, 2
""",
)
def a25_txlog_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CHANGE FEED computed from the table history
    (txlog.changes — Iceberg's changelog scan; updates appear as
    delete(old)+insert(new)): a four-commit history (create → append
    adjustments → banded copy-on-write DELETE → banded U/D/I MERGE)
    is diffed back into per-commit net changes, and the feed's
    (version, change_type) aggregates must match the relational
    reconstruction of exactly what each commit did (the oracle).
    The diff runs exceptAll over each commit's TOUCHED files only, so
    rows merely rewritten by copy-on-write (survivors sharing a file
    with deleted/updated rows) must cancel to zero — which is
    precisely what hash-matching the oracle proves. The v0 bulk
    create is excluded by the exclusive-start range, and an OPTIMIZE
    tail commit is asserted in-body to emit nothing (layout-only).

    100 TB: this is the generic CDC recovery path when only the table
    history exists — cost bounded by touched files per commit; live
    pipelines should prefer the version-offset stream (i18)."""

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = o.select(k.alias("k"), F.col("o_totalprice").alias("price"))
    path = deferred_tempdir("sgs_a25_") + "/t"
    txlog.create(base.repartitionByRange(8, "k"), path)  # v0
    h8, h4 = scalar_bounds(base, "k", 8, 4)  # one agg job for both
    adj = base.where(F.col("k") % 7 == 3).select(
        (F.col("k") + 200000000).alias("k"),
        (F.floor(F.col("price") * 25) / 100).alias("price"),
    )
    txlog.append(adj, path)  # v1: inserts only
    txlog.delete(spark, path, f"k <= {h8}", prune=("k", 0, h8))  # v2
    band = base.where((F.col("k") > h8) & (F.col("k") <= h4))
    src = (
        band.where(F.col("k") % 7 == 0)
        .select("k", (F.floor(F.col("price") * 120) / 100).alias("price"),
                F.lit("U").alias("op"))
        .unionByName(
            band.where(F.col("k") % 7 == 1)
            .select("k", F.lit(0.0).alias("price"), F.lit("D").alias("op"))
        )
        .unionByName(
            band.where(F.col("k") % 7 == 2)
            .select((F.col("k") + 300000000).alias("k"),
                    (F.floor(F.col("price") * 45) / 100).alias("price"),
                    F.lit("I").alias("op"))
        )
    )
    txlog.merge(spark, path, src, on=["k"], op_col="op")  # v3
    txlog.optimize(spark, path)  # v4 — must contribute NOTHING
    feed = txlog.changes(spark, path, 0)
    # load-bearing invariant — explicit raise survives python -O
    if feed.where(F.col("_commit_version") == 4).limit(1).count() != 0:
        raise AssertionError("optimize must emit no row changes")
    return feed.groupBy(
        F.col("_commit_version").alias("commit_version"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("price"), 2).alias("total"),
    )


@query(
    "a26_txlog_bloom_lookup",
    section="A1,A3,B2",
    tags=("analytics",),
    oracle="""
WITH probes AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderkey % 13 = 0
    AND o_orderkey > (SELECT CAST(floor(max(o_orderkey) / 2.0) AS BIGINT)
                      FROM orders)
  ORDER BY o_orderkey LIMIT 5
)
SELECT o.o_orderkey, o.o_orderpriority AS priority,
       round(o.o_totalprice, 2) AS total
FROM orders o JOIN probes USING (o_orderkey)
""",
)
def a26_txlog_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER point-lookup skipping on the txlog format: orders
    land HASH-distributed by key into 8 files — the layout where
    min/max stats are provably useless (asserted in-body: the band
    tier keeps every file for a point probe, because every file spans
    the whole key range) — with ``bloom_columns=("o_orderkey",)``
    declared at create. Five deterministic point lookups then consult
    the per-file membership sketch and each touches a strict subset
    of files (asserted per probe); the union of the point reads must
    equal a plain key-join against the same probe set (the oracle).
    ~8 bits/value, k=3 -> ~3% false positives — a false positive only
    costs reading one extra file, never correctness.

    100 TB: this is the Delta/Iceberg bloom index story — range stats
    answer bands, blooms answer equality on high-cardinality keys
    (user_id, order_id, URL hash), the dominant lookup shape for
    serving and debugging jobs over a lake table."""

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = deferred_tempdir("sgs_a26_") + "/t"
    txlog.create(
        o.repartition(8, "o_orderkey"), path, bloom_columns=("o_orderkey",)
    )
    # mid-range probes: a probe at the global minimum would fall below
    # most files' min and the BAND tier would prune it (the in-body
    # assertion found exactly that on the first cut) — mid-range keys
    # sit inside every hash-distributed file's [min, max], isolating
    # the bloom tier as the only thing that can prune
    mid = int(o.agg(F.floor(F.max("o_orderkey") / 2.0)).collect()[0][0])
    probes = [
        int(r[0])
        for r in o.where(
            (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderkey") > mid)
        )
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(5)
        .collect()
    ]
    out = None
    for key in probes:
        band, total = txlog.prune_files(path, "o_orderkey", key, key)
        kept, _ = txlog.prune_files_point(path, "o_orderkey", key)
        # load-bearing invariants — explicit raises survive python -O
        if len(band) != total:
            raise AssertionError(
                f"hash layout should defeat band stats: {len(band)}/{total}"
            )
        if not (0 < len(kept) < total):
            raise AssertionError(
                f"bloom must prune the point probe: {len(kept)}/{total}"
            )
        hit = txlog.read(spark, path, point=("o_orderkey", key))
        out = hit if out is None else out.unionByName(hit)
    return out.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.round("o_totalprice", 2).alias("total"),
    )


@query(
    "a27_txlog_update",
    section="A3,A1,B2,B5",
    tags=("analytics",),
    oracle="""
WITH mm AS (SELECT CAST(floor(max(o_orderkey) / 8.0) AS BIGINT) AS h8
            FROM orders)
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(CASE WHEN o_orderkey <= (SELECT h8 FROM mm)
                      THEN floor(o_totalprice * 105) / 100
                      ELSE o_totalprice END), 2) AS total
FROM orders GROUP BY 1
""",
)
def a27_txlog_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write UPDATE on the txlog format (txlog.update —
    completing the DML triad with a21's DELETE and a22's MERGE): a
    banded SET expression (5% price adjustment, floor-cent math so
    both engines agree bitwise) applies to the bottom eighth of the
    key space through the same three-tier cost model as DELETE —
    stats-band candidate pruning, matched-file discovery, strict-
    subset rewrite (asserted in-body). Unmatched rows in touched
    files rewrite verbatim, row count is invariant, and the
    pre-update version still time-travels (asserted). The post-update
    table must equal the relational CASE expression over the base
    table (the oracle).

    100 TB: UPDATE cost is O(matching files); the SET expression runs
    inside codegen during the rewrite — no row-at-a-time path."""

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = deferred_tempdir("sgs_a27_") + "/t"
    txlog.create(o.repartitionByRange(8, "o_orderkey"), path)
    n_before = txlog.read(spark, path).count()
    h8 = int(o.agg(F.floor(F.max("o_orderkey") / 8.0)).collect()[0][0])
    res = txlog.update(
        spark,
        path,
        f"o_orderkey <= {h8}",
        {"o_totalprice": "floor(o_totalprice * 105) / 100"},
        prune=("o_orderkey", 0, h8),
    )
    # load-bearing invariants — explicit raises survive python -O
    if not (0 < res["files_rewritten"] < res["files_total"]):
        raise AssertionError(f"update must rewrite a strict subset: {res}")
    snap = txlog.read(spark, path)
    if snap.count() != n_before:
        raise AssertionError("update must not change the row count")
    if txlog.read(spark, path, version=res["version"] - 1).count() != n_before:
        raise AssertionError("pre-update version no longer time-travels")
    return snap.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "a28_txlog_deletion_vector",
    section="A3,B2",
    tags=("analytics", "lakehouse"),
    oracle="""
SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
WHERE NOT (o_orderkey % 97 = 0 OR o_orderkey % 89 = 3)
GROUP BY 1
""",
)
def a28_txlog_deletion_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors (txlog.delete_mor —
    Delta deletion vectors / Iceberg v2 position deletes): rows
    scattered across EVERY file (key mod 97 — the anti-COW regime,
    where copy-on-write would rewrite the whole table for a 1% erase)
    are deleted by recording (file, row position) vectors in the
    commit; readers subtract them with one KB-sized broadcast
    anti-join on ``_metadata.row_index``. Asserted in-body: the
    active FILE set is byte-identical after both deletes (zero
    rewrite), a second overlapping delete counts only NET-new rows
    (vectors union idempotently), and the pre-delete version still
    time-travels with all rows. The post-delete read must equal a
    plain filtered scan (the oracle).

    100 TB: write cost O(matched rows) of metadata instead of
    O(touched file bytes) — the point-delete/GDPR shape; bulk deletes
    stay on the COW path (a21), and purge/OPTIMIZE re-materializes
    when the read-side anti-join has paid for itself."""

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = deferred_tempdir("sgs_a28_") + "/t"
    txlog.create(o.repartitionByRange(8, "o_orderkey"), path)
    n_before = txlog.read(spark, path).count()
    files_before = txlog.snapshot_files(path)
    r1 = txlog.delete_mor(spark, path, "o_orderkey % 97 = 0")
    # overlapping second delete: only net-new rows may count
    r2 = txlog.delete_mor(
        spark, path, "o_orderkey % 89 = 3 OR o_orderkey % 97 = 0"
    )
    # load-bearing invariants — explicit raises survive python -O
    if txlog.snapshot_files(path) != files_before:
        raise AssertionError("MOR delete must not touch the file set")
    if r1["rows_deleted"] <= 0 or r2["rows_deleted"] <= 0:
        raise AssertionError(f"expected net deletes in both commits: {r1} {r2}")
    n_now = txlog.read(spark, path).count()
    if n_now != n_before - r1["rows_deleted"] - r2["rows_deleted"]:
        raise AssertionError("overlapping vectors double-counted")
    if txlog.read(spark, path, version=r1["version"] - 1).count() != n_before:
        raise AssertionError("pre-delete version no longer time-travels")
    snap = txlog.read(spark, path)
    return snap.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "a29_txlog_dv_purge",
    section="A3,B2",
    tags=("analytics", "lakehouse"),
    oracle="""
WITH surv AS (SELECT * FROM orders WHERE NOT (o_orderkey % 61 = 7))
SELECT 'mor' AS stage, CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total FROM surv
UNION ALL
SELECT 'purged' AS stage, CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total FROM surv
""",
)
def a29_txlog_dv_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REORG/PURGE after merge-on-read deletes (txlog.purge_dvs —
    Delta's ``REORG TABLE ... APPLY (PURGE)``): the maintenance step
    that pays ONE rewrite of the DV'd files to remove the per-read
    anti-join. The query emits the same aggregate from the post-MOR
    snapshot and the post-purge snapshot — both rows must equal the
    filtered oracle, which makes the purge's data-preservation
    property itself hash-checked. Asserted in-body: purge clears
    every vector, drops exactly the deleted-position count, and the
    MOR version still time-travels.

    100 TB: DV reads trade a broadcast anti-join per scan for zero
    write amplification; purge flips the trade once the table is
    read-hot — the standard lakehouse maintenance rhythm (delete
    cheap now, localize on schedule)."""

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = deferred_tempdir("sgs_a29_") + "/t"
    txlog.create(o.repartitionByRange(8, "o_orderkey"), path)
    res = txlog.delete_mor(spark, path, "o_orderkey % 61 = 7")
    agg = lambda df, stage: df.agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    ).select(F.lit(stage).alias("stage"), "n", "total")
    mor = agg(txlog.read(spark, path), "mor")
    pres = txlog.purge_dvs(spark, path)
    # load-bearing invariants — explicit raises survive python -O
    if pres["rows_dropped"] != res["rows_deleted"] or pres["files_purged"] < 1:
        raise AssertionError(f"purge accounting off: {res} vs {pres}")
    if txlog.snapshot_dvs(path):
        raise AssertionError("purge left deletion vectors behind")
    purged = agg(txlog.read(spark, path), "purged")
    return mor.unionByName(purged)


@query(
    "a30_txlog_concurrent_reconcile",
    section="A3,B2",
    tags=("analytics", "lakehouse"),
    oracle="""
WITH h AS (SELECT CAST(floor(max(o_orderkey) / 8.0) AS BIGINT) AS hi
           FROM orders),
fin AS (
  SELECT o_orderpriority FROM orders WHERE o_orderkey > (SELECT hi FROM h)
  UNION ALL
  SELECT 'APPENDED' FROM orders WHERE o_orderkey % 13 = 5
)
SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n
FROM fin GROUP BY 1
""",
)
def a30_txlog_concurrent_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-writer conflict RECONCILIATION (txlog.commit_reconciled —
    the Delta conflict-resolution rules one level past same-version
    collision): a COW DELETE finishes its rewrite against version v,
    a concurrent APPEND wins v+1 first — the delete's read set is
    disjoint from the append's adds, so it auto-retries and lands at
    v+2 with BOTH effects intact (WriteSerializable). The same
    interleaving against a concurrent UPDATE of the SAME files must
    abort with TxLogConflict instead (stale survivors would resurrect
    the update away) — asserted in-body via a scripted race. The
    final table must equal base-minus-deleted-plus-appended (oracle).

    100 TB: real pipelines run ingest appends and retention deletes
    concurrently; aborting every delete because an append won the
    version race serializes the whole write path — reconciliation is
    what makes optimistic concurrency usable under load."""

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    path = deferred_tempdir("sgs_a30_") + "/t"
    txlog.create(o.repartitionByRange(8, "o_orderkey"), path)
    hi = int(o.agg(F.floor(F.max("o_orderkey") / 8.0)).collect()[0][0])
    appended = o.where(F.col("o_orderkey") % 13 == 5).select(
        (F.col("o_orderkey") + 500000000).alias("o_orderkey"),
        F.lit("APPENDED").alias("o_orderpriority"),
    )
    real = txlog.commit
    state = {"raced": False}

    def racing(p, adds, removes, **kw):
        # the concurrent append lands AFTER the delete prepared its
        # rewrite but BEFORE its commit — the classic lost-race window
        if not state["raced"] and kw.get("operation") == "delete":
            state["raced"] = True
            txlog.append(appended.coalesce(1), path)
        return real(p, adds, removes, **kw)

    txlog.commit = racing
    try:
        res = txlog.delete(
            spark, path, f"o_orderkey <= {hi}", prune=("o_orderkey", 0, hi)
        )
    finally:
        txlog.commit = real
    # load-bearing invariants — explicit raises survive python -O
    if res["version"] != 2:
        raise AssertionError(f"delete must land at v2 past the append: {res}")
    # the abort path: COW vs COW on overlapping files must raise
    state2 = {"raced": False}

    def racing2(p, adds, removes, **kw):
        if not state2["raced"] and kw.get("operation") == "update":
            state2["raced"] = True
            txlog.update(
                spark, path, "o_orderkey % 17 = 4",
                {"o_orderpriority": "'X'"},
            )
        return real(p, adds, removes, **kw)

    txlog.commit = racing2
    try:
        txlog.update(
            spark, path, "o_orderkey % 17 = 4", {"o_orderpriority": "'Y'"}
        )
        raise AssertionError("overlapping COW writers must conflict")
    except txlog.TxLogConflict:
        pass
    finally:
        txlog.commit = real
    # undo the winning racer's update so the oracle stays closed-form
    txlog.restore(path, 2)
    snap = txlog.read(spark, path)
    return snap.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "a31_txlog_cas_backend",
    section="A3,A6",
    tags=("analytics", "lakehouse"),
    oracle="""
SELECT src, CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 2) AS total
FROM (
  SELECT 'base' AS src, o_totalprice FROM orders
  UNION ALL
  SELECT 'after' AS src, o_totalprice FROM orders WHERE o_orderkey % 11 = 0
  UNION ALL
  SELECT 'before' AS src, o_totalprice FROM orders WHERE o_orderkey % 11 = 1
  UNION ALL
  SELECT 'retry' AS src, o_totalprice FROM orders WHERE o_orderkey % 11 = 2
) GROUP BY 1
""",
)
def a31_txlog_cas_backend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-store commit backend (txlog.CASCommitBackend — the
    conditional-put model: S3 If-None-Match, GCS if-generation-match)
    driven through its full injected failure matrix, with the table
    content hash-checked at the end:

    * ``fail_after_store`` — the put LANDED but the response was
      lost: the committer reads the target back, sees its own
      payload, and reports success (no double commit, no abandon).
    * ``fail_before_store`` — the put never landed: read-back finds
      nothing, one clean retry wins.
    * ``lose`` — the conditional put is rejected: a plain append
      raises TxLogConflict (asserted) and its batch must NOT appear;
      append_with_retry absorbs the same loss and lands.

    The final table must hold exactly base + the three successful
    batches (oracle) — the loser's orphan data files are inert.

    100 TB: this is the seam that makes the format real off a POSIX
    disk — commit safety reduces to ONE conditional put per version,
    and ambiguity resolution is a read-back compare, never a lock."""

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    k = F.col("o_orderkey")
    batch = lambda m, src: o.where(k % 11 == m).select(  # noqa: E731
        "o_orderkey", "o_totalprice", F.lit(src).alias("src")
    ).coalesce(1)
    path = deferred_tempdir("sgs_a31_") + "/t"
    b = txlog.CASCommitBackend()
    with txlog.use_backend(b):
        txlog.create(
            o.select("o_orderkey", "o_totalprice", F.lit("base").alias("src"))
            .repartitionByRange(4, "o_orderkey"),
            path,
        )
        b.faults.append("fail_after_store")
        v1 = txlog.append(batch(0, "after"), path)
        b.faults.append("fail_before_store")
        v2 = txlog.append(batch(1, "before"), path)
        b.faults.append("lose")
        try:
            txlog.append(batch(3, "lost"), path)
            raise AssertionError("a lost conditional put must conflict")
        except txlog.TxLogConflict:
            pass
        b.faults.append("lose")
        v3 = txlog.append_with_retry(batch(2, "retry"), path)
        # load-bearing invariants — explicit raises survive python -O
        if (v1, v2, v3) != (1, 2, 3):
            raise AssertionError(f"unexpected versions: {(v1, v2, v3)}")
        snap = txlog.read(spark, path)
        out = snap.groupBy("src").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        rows = out.collect()  # materialize while the backend is active
    return spark.createDataFrame(rows, out.schema)


@query(
    "a32_txlog_dv_change_feed",
    section="A3,I4",
    tags=("analytics", "lakehouse", "cdc"),
    oracle="""
WITH base AS (SELECT o_orderkey, o_totalprice FROM orders)
SELECT 1 AS commit_version, 'delete' AS change_type,
       CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 2) AS total
FROM base WHERE o_orderkey % 7 = 0
UNION ALL
SELECT 2, 'insert', CAST(count(*) AS BIGINT), round(sum(o_totalprice), 2)
FROM base WHERE o_orderkey % 13 = 5
UNION ALL
SELECT 3, 'delete', CAST(count(*) AS BIGINT), round(sum(o_totalprice), 2)
FROM base WHERE o_orderkey % 7 = 1
""",
)
def a32_txlog_dv_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change feed ACROSS merge-on-read commits
    (txlog.changes over deletion-vector history): a MOR delete, an
    append, a second MOR delete, and a PURGE — the feed must report
    each MOR commit's net deleted rows exactly once (vectors applied
    on BOTH diff sides), the append as pure inserts, and the purge as
    ZERO net change (re-materialized survivors cancel). The per-
    commit (change_type, count, value-sum) table is the oracle-
    checked output; the purge's absence from it IS the assertion.

    100 TB: this is CDC-off-the-table-history for DV workloads —
    change cost bounded by each commit's touched files + vector
    sizes, so a downstream replica follows a point-delete stream
    without ever diffing the full table."""

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = deferred_tempdir("sgs_a32_") + "/t"
    txlog.create(o.repartitionByRange(4, "o_orderkey"), path)      # v0
    txlog.delete_mor(spark, path, "o_orderkey % 7 = 0")            # v1
    appended = o.where(F.col("o_orderkey") % 13 == 5).select(
        (F.col("o_orderkey") + 500000000).alias("o_orderkey"),
        "o_totalprice",
    )
    txlog.append(appended.coalesce(1), path)                       # v2
    txlog.delete_mor(
        spark, path, "o_orderkey % 7 = 1 AND o_orderkey < 500000000"
    )                                                              # v3
    v4 = txlog.purge_dvs(spark, path)["version"]                   # v4
    if v4 != 4:
        raise AssertionError(f"expected purge at v4, got {v4}")
    ch = txlog.changes(spark, path, from_version=0, to_version=4)
    out = ch.groupBy(
        F.col("_commit_version").alias("commit_version"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )
    # v2's inserts carry shifted keys; map the sum back to base keys
    # is unnecessary — totals are key-independent. The purge commit
    # must contribute NO rows (asserted by the oracle's 3-row shape).
    return out.withColumn(
        "commit_version", F.col("commit_version").cast("int")
    )


@query(
    "a33_txlog_pinned_reader",
    section="A3,A1",
    tags=("analytics", "lakehouse"),
    oracle="""
SELECT src, CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 2) AS total
FROM (
  SELECT 'pinned_v0' AS src, o_totalprice FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT 'current' AS src, o_totalprice FROM orders WHERE o_orderkey % 5 <= 1
) GROUP BY 1
""",
)
def a33_txlog_pinned_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-running reader vs OPTIMIZE + VACUUM (txlog.pin /
    pinned_snapshot): a reader pins version 0, then an append, an
    OPTIMIZE, and a keep_versions=1 vacuum all land — the retention
    window no longer covers v0, but the PIN does, so the reader's
    snapshot must still read exactly v0's content (the oracle's
    'pinned_v0' rows) while the current snapshot shows the append
    ('current'). In-body teeth: the aggressive vacuum deletes NONE of
    v0's files while the pin is live, and after release the SAME
    vacuum call reclaims them — proving the pin was load-bearing
    rather than the vacuum vacuously idle.

    100 TB: snapshot isolation that survives maintenance is what
    makes multi-hour consumers (training jobs, exports) safe to run
    against a table under continuous OPTIMIZE — the pin is one tiny
    durable marker, never a copy of the data."""
    import os as _os

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    path = deferred_tempdir("sgs_a33_") + "/t"
    txlog.create(
        o.where(k % 5 == 0).repartitionByRange(4, "o_orderkey"), path
    )                                                               # v0
    with txlog.pinned_snapshot(path) as v0:
        if v0 != 0:
            raise AssertionError(f"expected to pin v0, pinned {v0}")
        v0_files = txlog.snapshot_files(path, 0)
        txlog.append(o.where(k % 5 == 1).coalesce(2), path)         # v1
        txlog.optimize(spark, path)                                 # v2
        gone = txlog.vacuum(path, keep_versions=1)
        if set(gone) & set(v0_files):
            raise AssertionError("vacuum reclaimed pinned v0 files")
        pinned = txlog.read(spark, path, version=v0).select(
            F.lit("pinned_v0").alias("src"), "o_totalprice"
        )
        current = txlog.read(spark, path).select(
            F.lit("current").alias("src"), "o_totalprice"
        )
        out = pinned.unionByName(current).groupBy("src").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        rows = out.collect()  # materialize while the pin is live
    # release teeth: the same retention now reclaims v0
    gone2 = txlog.vacuum(path, keep_versions=1)
    if not set(v0_files) <= set(gone2):
        raise AssertionError("post-release vacuum must reclaim v0")
    if any(_os.path.exists(_os.path.join(path, f)) for f in v0_files):
        raise AssertionError("v0 files still on disk after release")
    return spark.createDataFrame(rows, out.schema)


@query(
    "a34_txlog_idempotent_sink",
    section="A3,A6",
    tags=("analytics", "lakehouse"),
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS total
FROM events
GROUP BY 1
""",
)
def a34_txlog_idempotent_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE sink under replay (txlog.append_idempotent —
    Delta's txnAppId/txnVersion idempotent writes): the event stream
    is delivered as three epochs, committed with per-writer
    watermarks, then a SIMULATED SINK RESTART re-delivers epochs 1
    and 2 — foreachBatch's at-least-once contract made concrete. The
    replays must NO-OP (asserted in-body: applied flags, version
    count stuck at 3, watermark at 2), so the final table equals the
    batch aggregate with every row exactly once — the oracle. The
    threaded two-replicas-of-one-batch race is pinned in
    tests/test_txlog.py.

    100 TB: this is the missing half of the transactional-sink story
    (i17 gives atomic per-epoch commits; this gives replay safety) —
    a restarted 1000-executor streaming job re-running its last epoch
    costs one watermark read, not a dedup pass over the table."""

    from spark_glove_spark.sources import txlog

    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = deferred_tempdir("sgs_a34_") + "/t"
    epochs = [
        e.where(F.col("event_id") % 3 == m).coalesce(2) for m in range(3)
    ]
    txlog.create(epochs[0], path)
    flags = []
    for i in (1, 2):
        _, applied = txlog.append_idempotent(epochs[i], path, "sink", i)
        flags.append(applied)
    # restart: the sink re-delivers its last two epochs
    for i in (1, 2):
        _, applied = txlog.append_idempotent(epochs[i], path, "sink", i)
        flags.append(applied)
    # load-bearing invariants — explicit raises survive python -O
    if flags != [True, True, False, False]:
        raise AssertionError(f"replay applied flags: {flags}")
    if txlog.current_version(path) != 2:
        raise AssertionError(
            f"replay created versions: at v{txlog.current_version(path)}"
        )
    if txlog.last_txn_version(path, "sink") != 2:
        raise AssertionError("watermark not at the last applied epoch")
    return (
        txlog.read(spark, path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
    )


@query(
    "pipeline_mor_lifecycle",
    section="A3,B2,F1",
    tags=("analytics", "lakehouse", "pipeline"),
    oracle="""
WITH base AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders),
appended AS (
  SELECT o_orderkey + 500000000 AS o_orderkey, 'APPENDED' AS o_orderpriority,
         o_totalprice
  FROM base WHERE o_orderkey % 13 = 5
),
unioned AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
after_del AS (SELECT * FROM unioned WHERE NOT (o_orderkey % 97 = 0)),
after_upd AS (
  SELECT o_orderkey, o_orderpriority,
         CASE WHEN o_orderkey % 11 = 3
              THEN floor(o_totalprice * 110) / 100
              ELSE o_totalprice END AS o_totalprice
  FROM after_del
)
SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM after_upd GROUP BY 1
""",
)
def pipeline_mor_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full lakehouse MAINTENANCE LIFECYCLE as one hash-checked
    composite — the rhythm a production table actually lives:
    create → append (ingest) → delete_mor (cheap point erasure) →
    COW update (repricing) → purge (vector re-materialization) →
    OPTIMIZE ZORDER (layout) → vacuum dry-run (reclamation audit).
    Every stage composes the individually-verified operators; the
    final snapshot must equal the closed-form relational pipeline
    (the oracle), which pins the INTERACTIONS — the COW update runs
    while vectors are live (must not resurrect), purge runs after
    (must re-materialize exactly), optimize compacts the mixture.

    In-body asserts: the MOR delete touched no files, the update
    applied THROUGH the live vectors, purge left zero vectors,
    optimize reached the target file count, and the dry-run vacuum
    deletes nothing while naming a non-empty reclaim set.

    100 TB: each stage's cost model is its own docstring's; the
    lifecycle point is that they compose without rewriting the world
    — total write amplification here is touched-files + one
    compaction, never n_stages × table."""

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = deferred_tempdir("sgs_mor_") + "/t"
    txlog.create(o.repartitionByRange(4, "o_orderkey"), path)
    appended = o.where(F.col("o_orderkey") % 13 == 5).select(
        (F.col("o_orderkey") + 500000000).alias("o_orderkey"),
        F.lit("APPENDED").alias("o_orderpriority"),
        "o_totalprice",
    )
    txlog.append(appended.coalesce(1), path)
    files_before = txlog.snapshot_files(path)
    res_mor = txlog.delete_mor(spark, path, "o_orderkey % 97 = 0")
    if txlog.snapshot_files(path) != files_before:
        raise AssertionError("MOR delete must not rewrite files")
    txlog.update(
        spark, path, "o_orderkey % 11 = 3",
        {"o_totalprice": "floor(o_totalprice * 110) / 100"},
    )
    res_purge = txlog.purge_dvs(spark, path)
    if txlog.snapshot_dvs(path):
        raise AssertionError("purge left vectors behind")
    # the COW update rewrote some DV'd files already (dropping their
    # vectors), so purge handles only the remainder
    if res_purge["rows_dropped"] > res_mor["rows_deleted"]:
        raise AssertionError(
            f"purge dropped more than MOR deleted: {res_mor} {res_purge}"
        )
    txlog.optimize(spark, path, target_files=2,
                   zorder_by=("o_orderkey", "o_totalprice"))
    if len(txlog.snapshot_files(path)) != 2:
        raise AssertionError("optimize missed the target file count")
    would = txlog.vacuum(path, keep_versions=1, dry_run=True)
    if not would:
        raise AssertionError("lifecycle left nothing to reclaim")
    if not all(
        txlog.read(spark, path, version=v).count() >= 0
        for v in (0, txlog.current_version(path))
    ):
        raise AssertionError("dry-run vacuum must not delete")
    snap = txlog.read(spark, path)
    return snap.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "e11_markov_transitions",
    section="E3,D1",
    tags=("analytics",),
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
t AS (
  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
  FROM ordered WHERE next_type IS NOT NULL
  GROUP BY 1, 2
),
row_tot AS (SELECT from_type, sum(n) AS tot FROM t GROUP BY 1)
SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
       round(CAST(t.n AS DOUBLE) / row_tot.tot, 6) AS p
FROM t JOIN row_tot USING (from_type)
""",
)
def e11_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the path-analysis primitive behind next-action
    prediction, funnel discovery, and bot detection (a uniform row is
    a random clicker; a spiked row is a script): lead() pairs each
    event with the user's next one (ts, event_id deterministic
    order), transitions aggregate to |types|² cells, and row-
    normalization yields the transition probabilities.

    100 TB: ONE hash partitioning on user_id serves the lead window;
    the transition aggregate is map-side combined into a bounded
    |types|² table, and the row totals derive from it — the e-series
    per-user discipline (one shuffle, never cross-key)."""
    from spark_glove_spark.sources import parallelized

    e = parallelized(table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    t = ordered.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    t = t.localCheckpoint(eager=True)  # <= |types|^2 rows; totals derive
    row_tot = t.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return t.join(F.broadcast(row_tot), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("p"),
    )
