"""End-to-end corpus curation — the engine's user story in ONE
declared query: the staged filter funnel every LLM training-data
pipeline runs (quality gate → exact dedup → near-dup dedup), with a
per-language audit of where documents went.

Stages (each individually verified elsewhere; this query proves the
COMPOSITION):

1. **Quality gate** (h17_quality_score's rule): 20–80 tokens and
   stop-word ratio < 0.3.
2. **Exact dedup** among quality passers: keep the lowest doc_id per
   identical text. (At scale the partition key is sha2(text) — the
   h12/f5 content-hash form; full text is used here so the oracle is
   byte-identical.)
3. **Near-dup dedup** among survivors: the deterministic prefix-filter
   similarity join (h14) at Jaccard >= 0.4; a doc is dropped when it
   has a qualifying partner with a lower doc_id in the survivor set
   (greedy lower-id dominance — the same keep rule as
   h13_semantic_dedup, chosen over transitive closure so the oracle
   stays non-recursive; the CC operators in operators/graph.py supply
   the transitive variant when policy wants it).

Output: one row per (lang, status) with document counts and kept
token volume — the audit table a curation run ships to its consumers.
Fully ORACLE-CHECKED: every stage is deterministic SQL, so the DuckDB
twin replays the identical funnel.

100 TB shape: stage 1 is map-only and prunes before any shuffle; the
exact-dedup shuffle keys on content (hash in production); the
similarity join runs on the PRUNED survivor set (the funnel ordering
is the cost model: cheapest filters first, the quadratic-risk stage
last and smallest); one corpus scan feeds the whole funnel via a
persisted tokenized projection.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_glove_spark.functions.text import shingles, tokenize
from spark_glove_spark.operators.dedup import prefix_filter_pairs
from spark_glove_spark.operators.text_analysis import STOPWORDS
from spark_glove_spark.registry import defer_unpersist, deferred_tempdir, query
from spark_glove_spark.sources import parallelized, scalar_bounds, table

_T = 0.4  # similarity-join threshold (shared with h14)


@query(
    "pipeline_curate_corpus",
    section="H12,H14,H17,F5",
    tags=("llm-pipeline", "dedup"),
    oracle=f"""
WITH base AS (
    SELECT doc_id, lang, text, string_split(text, ' ') AS toks
    FROM documents
),
q AS (
    SELECT *,
           (len(toks) BETWEEN 20 AND 80
            AND CAST(len(list_filter(toks, x -> x IN ('a', 'the'))) AS DOUBLE)
                / len(toks) < 0.3) AS pass_q
    FROM base
),
ex AS (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM q WHERE pass_q
),
s2 AS (
    SELECT q.doc_id, q.toks FROM q JOIN ex ON q.doc_id = ex.doc_id
    WHERE ex.rn = 1
),
sh AS (
    SELECT doc_id,
           list_distinct(list_transform(range(len(toks) - 2),
               i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))
             AS s
    FROM s2 WHERE len(toks) >= 3
),
eg AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
cand AS (
    SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
    FROM eg a JOIN eg b ON a.g = b.g AND a.doc_id < b.doc_id
             AND a.n >= {_T} * b.n AND b.n >= {_T} * a.n
),
nd AS (
    SELECT DISTINCT c.db AS doc_id
    FROM cand c JOIN sh sa ON c.da = sa.doc_id JOIN sh sb ON c.db = sb.doc_id
    WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= {_T}
),
status AS (
    SELECT q.lang, len(q.toks) AS n_toks,
           CASE WHEN NOT q.pass_q THEN 'quality_fail'
                WHEN ex.rn > 1 THEN 'exact_dup'
                WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS status
    FROM q
    LEFT JOIN ex ON q.doc_id = ex.doc_id
    LEFT JOIN nd ON q.doc_id = nd.doc_id
)
SELECT lang, status,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN status = 'kept' THEN n_toks ELSE 0 END) AS BIGINT)
         AS kept_tokens
FROM status GROUP BY 1, 2
""",
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the staged curation funnel and return the per-(lang, status)
    audit: how many documents each stage removed and how many tokens
    survive. See module docstring for stage semantics."""
    d = parallelized(table(spark, sf_dir, "documents"))
    toks = tokenize(F.col("text"))
    n = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(STOPWORDS))).cast("double") / n
    )
    q = defer_unpersist(
        d.select(
            "doc_id",
            "lang",
            "text",
            toks.alias("toks"),
            (n.between(20, 80) & (stop_ratio < 0.3)).alias("pass_q"),
        ).persist()
    )
    w = Window.partitionBy("text").orderBy("doc_id")
    # persisted (doc_id, rn) only — text dropped before the cache. Two
    # consumers need the exact-dup rank (the survivor semi-join and the
    # final status join); unpersisted, each re-paid the shuffle-by-text
    # + window pass over the quality-passed corpus (r14 optimization
    # round, guide §2.4 — the same partitioning work ran twice).
    ex = defer_unpersist(
        q.where("pass_q")
        .select("doc_id", "text")
        .withColumn("rn", F.row_number().over(w))
        .select("doc_id", "rn")
        .persist()
    )
    s2 = (
        q.join(ex.where(F.col("rn") == 1).select("doc_id"), "doc_id")
        .select("doc_id", "toks")
    )
    sets = defer_unpersist(
        s2.select(
            "doc_id",
            F.array_distinct(shingles(F.col("toks"), 3)).alias("shingles"),
        )
        .where(F.size("shingles") > 0)
        .persist()
    )
    nd = prefix_filter_pairs(sets, _T).select(
        F.col("doc_b").alias("doc_id")
    ).distinct()
    status = (
        q.join(ex.select("doc_id", "rn"), "doc_id", "left")
        .join(nd.withColumn("is_nd", F.lit(1)), "doc_id", "left")
        .select(
            "lang",
            F.size("toks").alias("n_toks"),
            F.when(~F.col("pass_q"), "quality_fail")
            .when(F.col("rn") > 1, "exact_dup")
            .when(F.col("is_nd").isNotNull(), "near_dup")
            .otherwise("kept")
            .alias("status"),
        )
    )
    return status.groupBy("lang", "status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("status") == "kept", F.col("n_toks")).otherwise(0))
        .cast("long")
        .alias("kept_tokens"),
    )


@query(
    "pipeline_training_batches",
    section="H17,E4,G8",
    tags=("llm-pipeline", "capstone"),
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         CASE WHEN doc_id % 10 < 8 THEN 'train' ELSE 'val' END AS split,
         CAST(doc_id % 8 AS INTEGER) AS bucket
  FROM documents
),
starts AS (
  SELECT doc_id, split, bucket, toks,
         unnest(range(1, len(toks) + 1, 24)) AS start
  FROM t WHERE len(toks) >= 1
),
ch AS (
  SELECT doc_id, split, bucket,
         CAST((start - 1) / 24 AS BIGINT) AS chunk_id,
         CAST(len(list_slice(toks, start, start + 31)) AS BIGINT)
             AS n_tokens
  FROM starts
),
s AS (
  SELECT *, CAST(sum(n_tokens) OVER (
      PARTITION BY split, bucket ORDER BY doc_id, chunk_id
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM ch
)
SELECT split, bucket,
       CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS pack_id,
       count(*) AS n_chunks,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM s GROUP BY 1, 2, 3
""",
)
def pipeline_training_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone #2 — training-batch assembly in ONE declared query:
    every document is chunked into 32-token sliding windows (stride
    24, the h17_token_chunking step over the FULL corpus), each chunk
    inherits a deterministic train/val split (doc_id band — the
    decontamination-compatible id split) and a pack bucket, and the
    chunks are packed greedily into ~256-token sequences per
    (split, bucket) via the h17_sequence_packing running-sum window.
    Output: the pack manifest (chunk count, token count, doc range
    per pack) a training job reads to build batches.

    The COMPOSITION is the point: chunk fan-out is expression-only
    (no shuffle before the explode), the split/bucket assignment is
    map-side arithmetic, and the only shuffle is the pack window's
    partition-by (split, bucket) — per-bucket running sums, never a
    global window, so the plan holds at any corpus size. Fully
    oracle-checked end to end.
    """
    d = table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    starts = F.when(
        F.size(toks) >= 1, F.sequence(F.lit(1), F.size(toks), F.lit(24))
    ).otherwise(F.array().cast("array<int>"))
    ch = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 8, "train")
        .otherwise("val")
        .alias("split"),
        (F.col("doc_id") % 8).cast("int").alias("bucket"),
        toks.alias("toks"),
        F.explode(starts).alias("start"),
    ).select(
        "doc_id",
        "split",
        "bucket",
        ((F.col("start") - 1) / 24).cast("long").alias("chunk_id"),
        F.size(F.slice("toks", F.col("start"), 32))
        .cast("long")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("split", "bucket")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = ch.withColumn("cum", F.sum("n_tokens").over(w).cast("long"))
    return s.groupBy(
        "split",
        "bucket",
        F.floor((F.col("cum") - F.col("n_tokens")) / 256.0)
        .cast("long")
        .alias("pack_id"),
    ).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _sketch_funnel_oracle() -> str:
    from spark_glove_spark.operators.dedup import mh_pair_ctes

    return f"""
WITH base AS (SELECT doc_id, source, text FROM documents),
s1 AS (
  SELECT doc_id, source, text FROM (
    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM base
  ) WHERE rn = 1
),
{mh_pair_ctes('s1')},
drops AS (SELECT DISTINCT doc_b AS doc_id FROM mh_pairs),
s2 AS (
  SELECT s1.* FROM s1 LEFT JOIN drops USING (doc_id)
  WHERE drops.doc_id IS NULL
),
a0 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM base GROUP BY 1),
a1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_after_exact FROM s1 GROUP BY 1),
a2 AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_after_minhash,
         CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT)
           AS tokens_kept
  FROM s2 GROUP BY 1
)
SELECT a0.source, a0.n_docs, a1.n_after_exact, a2.n_after_minhash, a2.tokens_kept
FROM a0 JOIN a1 USING (source) JOIN a2 USING (source)
"""


@query(
    "pipeline_sketch_dedup",
    section="H12,H13,F5,D1",
    tags=("llm-pipeline", "dedup"),
    oracle=_sketch_funnel_oracle(),
)
def pipeline_sketch_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKETCH-based dedup cascade — exact content dedup, then
    MinHash-LSH near-dup dedup — composed end to end and fully
    hash-checked, because the near-dup stage is the PORTABLE twin
    pipeline (:func:`~spark_glove_spark.operators.dedup.
    portable_minhash_pairs`): at 100 TB you don't run the exact
    similarity join of pipeline_curate_corpus on the raw corpus, you
    run exactly this — cheap exact pass first (hash shuffle), then
    banded-sketch candidates + verify on the survivors. Drop policy
    is lower-id dominance per verified pair (the oracle-friendly,
    non-transitive rule; graph.py's CC gives the transitive variant).
    Output: the per-source audit (docs in, after exact, after
    near-dup, kept token volume) a curation run ships downstream.

    Plan: one documents scan feeds the exact window; the survivor set
    feeds the twin's shingle/signature stages; the audit is three
    map-side-combined aggregates joined on source."""
    from spark_glove_spark.operators.dedup import portable_minhash_pairs

    base = defer_unpersist(
        parallelized(table(spark, sf_dir, "documents"))
        .select("doc_id", "source", "text")
        .persist()
    )
    w = Window.partitionBy("text").orderBy("doc_id")
    s1 = defer_unpersist(
        base.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .persist()
    )
    pairs = portable_minhash_pairs(s1.select("doc_id", "text"))
    drops = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    s2 = s1.join(drops, "doc_id", "left_anti")
    a0 = base.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    a1 = s1.groupBy("source").agg(F.count(F.lit(1)).alias("n_after_exact"))
    a2 = s2.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_after_minhash"),
        F.sum(F.size(tokenize(F.col("text")))).cast("long").alias("tokens_kept"),
    )
    return a0.join(a1, "source").join(a2, "source").select(
        "source", "n_docs", "n_after_exact", "n_after_minhash", "tokens_kept"
    )


_CDC_ORACLE = """
WITH b AS (SELECT o_orderkey AS k, o_totalprice AS price FROM orders),
mm AS (SELECT CAST(floor(max(k) / 8.0) AS BIGINT) AS h8,
              CAST(floor(max(k) / 4.0) AS BIGINT) AS h4 FROM b),
fin AS (
  SELECT k,
         CASE WHEN k % 7 = 0 AND k > h8 AND k <= h4
              THEN floor(price * 120) / 100 ELSE price END AS p
  FROM b, mm
  WHERE k > h8 AND NOT (k % 7 = 1 AND k > h8 AND k <= h4)
  UNION ALL
  SELECT k + 200000000, floor(price * 25) / 100 FROM b WHERE k % 7 = 3
  UNION ALL
  SELECT k + 300000000, floor(price * 45) / 100 FROM b, mm
  WHERE k % 7 = 2 AND k > h8 AND k <= h4
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
       round(sum(p), 2) AS total
FROM fin
"""


def _cdc_replica(spark: SparkSession, sf_dir: str, prefix: str):
    """The CDC pair's shared set-up: a source txlog table mutated
    through the a25 history (create → append adjustments → banded COW
    delete → banded U/D/I merge) and a REPLICA seeded from its version
    0, both under one deferred temp dir. Returns ``(src_path,
    rep_path, apply)``: ``apply(v)`` re-applies source version ``v``'s
    net changes (txlog.changes) to the replica as one MERGE through
    txlog.commit_epoch under the ("cdc", v) watermark — the source
    version number IS the writer version — and returns whether it
    landed. Versions must be applied in order (each merge consumes
    the previous replica state)."""
    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = o.select(k.alias("k"), F.col("o_totalprice").alias("price"))
    tmp = deferred_tempdir(prefix)
    src_path = os.path.join(tmp, "src")
    rep_path = os.path.join(tmp, "replica")
    txlog.create(base.repartitionByRange(8, "k"), src_path)  # v0
    h8, h4 = scalar_bounds(base, "k", 8, 4)  # one agg job for both
    adj = base.where(F.col("k") % 7 == 3).select(
        (F.col("k") + 200000000).alias("k"),
        (F.floor(F.col("price") * 25) / 100).alias("price"),
    )
    txlog.append(adj, src_path)  # v1
    txlog.delete(spark, src_path, f"k <= {h8}", prune=("k", 0, h8))  # v2
    band = base.where((F.col("k") > h8) & (F.col("k") <= h4))
    ch_src = (
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
    txlog.merge(spark, src_path, ch_src, on=["k"], op_col="op")  # v3
    txlog.create(txlog.read(spark, src_path, version=0), rep_path)

    def change_set(v: int) -> list[DataFrame]:
        ch = txlog.changes(spark, src_path, v - 1, v)
        # changelog -> upsert collapse: per key, an insert row wins as
        # an upsert; a delete-only key becomes a D op. (At most one
        # insert per key per version, so first(ignorenulls) is exact.)
        collapsed = ch.groupBy("k").agg(
            F.first(
                F.when(F.col("_change_type") == "insert", F.col("price")),
                ignorenulls=True,
            ).alias("ins_price"),
        ).select(
            "k",
            F.coalesce("ins_price", F.lit(0.0)).alias("price"),
            F.when(F.col("ins_price").isNotNull(), F.lit("U"))
            .otherwise(F.lit("D"))
            .alias("op"),
        )
        # one eager checkpoint per change set: merge consumes its
        # source ~5 times internally (op validation, key distinct,
        # delete/upsert counts, the rewrite), and each pass would
        # re-run the CDC diff otherwise (r14 optimization round)
        return [collapsed.localCheckpoint(eager=True)]

    writes = [(rep_path, "cdc", ["k"], "op")]

    def apply(v: int) -> bool:
        return txlog.commit_epoch(v, writes, lambda: change_set(v))[0]

    return src_path, rep_path, apply


def _cdc_converged(spark: SparkSession, src_path: str, rep_path: str) -> DataFrame:
    """Raise unless the replica equals the source bit-for-bit (both
    directions), then return the oracle's aggregate of the replica."""
    from spark_glove_spark.sources import txlog

    src_final = txlog.read(spark, src_path)
    rep_final = txlog.read(spark, rep_path)
    # load-bearing invariant — explicit raises survive python -O
    if src_final.exceptAll(rep_final).limit(1).count() != 0:
        raise AssertionError("replica is missing source rows")
    if rep_final.exceptAll(src_final).limit(1).count() != 0:
        raise AssertionError("replica has rows the source lacks")
    return rep_final.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("k").alias("n_keys"),
        F.round(F.sum("price"), 2).alias("total"),
    )


@query(
    "pipeline_cdc_replication",
    section="A3,C3,F4",
    tags=("pipeline", "cdc"),
    oracle=_CDC_ORACLE,
)
def pipeline_cdc_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table REPLICATION over the change feed — the capstone the
    changelog exists for: a source txlog table mutates through the
    a25 history (create → append adjustments → banded COW delete →
    banded U/D/I merge), a REPLICA table is seeded from the source's
    version 0, and each commit's net changes (txlog.changes) are
    re-applied to the replica as one MERGE per version (per key:
    insert row wins as an upsert, a delete-only key becomes a D op —
    the standard changelog-to-upsert collapse). The replica must then
    EQUAL the source bit-for-bit: asserted in-body by symmetric
    exceptAll emptiness, and hash-matched against the relational
    reconstruction of the final state (the oracle).

    100 TB: this is cross-region/lake replication without locks —
    only touched-file diffs cross the wire, appends ship verbatim,
    compactions ship nothing, and the replica converges per version
    with exactly-once semantics from the version numbers themselves."""
    from spark_glove_spark.sources import txlog

    src_path, rep_path, apply = _cdc_replica(spark, sf_dir, "sgs_cdcr_")
    for v in range(1, txlog.current_version(src_path) + 1):
        apply(v)
    return _cdc_converged(spark, src_path, rep_path)


@query(
    "pipeline_cdc_exactly_once",
    section="A3,C3,F4,A6",
    tags=("pipeline", "cdc"),
    oracle=_CDC_ORACLE,
)
def pipeline_cdc_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline_cdc_replication made RESTART-SAFE — the production
    replication loop as it actually runs: each source version's net
    changes apply to the replica via an IDEMPOTENT merge keyed
    (app="cdc", version=source version), so the source version number
    IS the writer watermark (txlog.merge(txn=...) — SetTransaction).
    After convergence, a SIMULATED REPLICATOR RESTART re-delivers
    EVERY version's change set from scratch; all replays must no-op
    (applied flags asserted in-body) without computing a change set,
    the replica's version count must not move, and the replica must
    still equal the source bit-for-bit — the same relational oracle as
    pipeline_cdc_replication, now carrying the exactly-once claim
    too. The threaded two-replicas-of-one-change-set race is pinned
    in tests/test_txlog.py.

    100 TB: restart cost is one watermark read per already-applied
    version — the replicator never diffs or dedups the replica; the
    source version numbers give exactly-once for free, which is the
    entire point of shipping CDC over a versioned log."""
    from spark_glove_spark.sources import txlog

    src_path, rep_path, apply = _cdc_replica(spark, sf_dir, "sgs_cdcx_")
    versions = range(1, txlog.current_version(src_path) + 1)
    flags = [apply(v) for v in versions]
    rep_v = txlog.current_version(rep_path)
    # SIMULATED RESTART: the replicator re-delivers everything
    flags += [apply(v) for v in versions]
    # load-bearing invariants — explicit raises survive python -O
    if flags != [True] * len(versions) + [False] * len(versions):
        raise AssertionError(f"replay applied flags: {flags}")
    if txlog.current_version(rep_path) != rep_v:
        raise AssertionError("restart replay created replica versions")
    if txlog.last_txn_version(rep_path, "cdc") != versions[-1]:
        raise AssertionError("watermark not at the last source version")
    return _cdc_converged(spark, src_path, rep_path)


@query(
    "pipeline_incremental_agg",
    section="D1,A3,F4",
    tags=("pipeline", "cdc"),
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
def pipeline_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance over the change feed
    — the view is ``SELECT grp, count(*), sum(price) GROUP BY grp``
    and each commit's net changes update it WITHOUT rescanning the
    table: inserts add (+1, +price), deletes retract (-1, -price),
    and an update (delete+insert in the changelog encoding) nets to
    the value delta. The maintained view is asserted in-body to EQUAL
    the full recompute over the final snapshot after drifting through
    a create/append/COW-delete/merge history, and hash-matches the
    relational reconstruction (the oracle). Counts going to zero drop
    the group — the classic retraction subtlety.

    100 TB: per-commit maintenance cost is O(touched files) for the
    diff + O(|groups in the delta|) for the view update, vs a full
    scan per refresh; this is the lakehouse form of incremental view
    maintenance (Delta MVs / Materialize-style delta queries), built
    from exactly the changes() primitive."""

    from spark_glove_spark.sources import txlog

    o = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = o.select(
        k.alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderpriority").alias("grp"),
    )
    path = deferred_tempdir("sgs_iagg_") + "/t"
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

    # --- view seeded from v0, then maintained per commit ---
    view = (
        txlog.read(spark, path, version=0)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("price").alias("total"))
        .localCheckpoint(eager=True)
    )
    latest = txlog.current_version(path)
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    for v in range(1, latest + 1):
        delta = (
            txlog.changes(spark, path, v - 1, v)
            .groupBy("grp")
            .agg(
                F.sum(sign).alias("dn"),
                F.sum(sign * F.col("price")).alias("dtotal"),
            )
        )
        view = (
            view.join(delta, "grp", "full_outer")
            .select(
                "grp",
                (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0)))
                .alias("n"),
                (
                    F.coalesce("total", F.lit(0.0))
                    + F.coalesce("dtotal", F.lit(0.0))
                ).alias("total"),
            )
            .where(F.col("n") > 0)  # retraction to zero drops the group
            .localCheckpoint(eager=True)
        )

    # load-bearing invariant — explicit raise survives python -O:
    # the maintained view equals the full recompute over the snapshot
    full = (
        txlog.read(spark, path)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("price").alias("total"))
    )
    a = {r["grp"]: (r["n"], round(r["total"], 2)) for r in view.collect()}
    b = {r["grp"]: (r["n"], round(r["total"], 2)) for r in full.collect()}
    if a != b:
        raise AssertionError(f"incremental view diverged: {a} != {b}")
    return view.select(
        "grp", F.col("n").cast("long").alias("n"),
        F.round("total", 2).alias("total"),
    )


# ---------------------------------------------------------------------------
# RAG serving capstone: chunk -> embed -> index -> hybrid retrieve ->
# evaluate, as ONE fully oracle-checked composite — the serving-side
# counterpart of pipeline_curate_corpus' ingest funnel.

_RAG_QUERIES: tuple[tuple[int, str], ...] = (
    (0, "vector scan"),
    (1, "hash join merge"),
    (2, "stream window agg"),
)
_RAG_CMUL = 1000  # chunk pk: cid = doc_id * 1000 + chunk_id (chunk
# counts are bounded by words/8 per doc — far under 1000 at any SF)
_RAG_SHORT = 120  # BQ shortlist depth per query
_RAG_K = 10  # dense top-k (truth and system lists)
_RAG_SERVE = 5  # fused results served per query
_RAG_RRF_K = 60  # the standard RRF constant (h15_rrf_fusion)


def _rag_seg_vec_sql(d: int) -> str:
    """One segment-vector coordinate over a ``words`` list — the
    h17_semantic_chunking hash space verbatim."""
    return (
        f"CAST(list_aggregate(list_transform(words, w ->"
        f" (('0x' || substr(md5('sc{d}|' || w), 1, 8))::BIGINT % 2001) - 1000),"
        f" 'sum') AS BIGINT)"
    )


def _rag_qvec(qtext: str) -> list[int]:
    """Query pseudo-embedding: the SAME md5 word space as the chunk
    segments, summed over the query's words — computed driver-side
    (md5 of a literal string is engine-free) and inlined as literals
    in both engines."""
    import hashlib

    out = []
    for d in range(4):
        acc = 0
        for w in qtext.split(" "):
            h = int(hashlib.md5(f"sc{d}|{w}".encode()).hexdigest()[:8], 16)
            acc += h % 2001 - 1000
        out.append(acc)
    return out


_RAG_BITS = 16  # BQ code width: sign bits of 16 LCG hyperplane
# projections of the 4-dim chunk vector (raw coordinate signs alone
# give 16 buckets over ~1.4k chunks — Hamming ties would make the
# shortlist arbitrary; 16 projected bits make it a real ranking)


def _rag_plane(j: int, d: int) -> int:
    """Deterministic LCG hyperplane coefficient in [-1000, 1000] (the
    ann._nb_coef discipline; distinct increment so the RAG code planes
    never silently share values with the graph-index tables)."""
    return (
        (1103515245 * ((j + 9) * 4 + d) + 99991) % 2147483648
    ) % 2001 - 1000


def _rag_code(vec: list[int]) -> int:
    """Sign-pack the 16 hyperplane projections of a 4-dim integer
    vector into a 16-bit BQ code."""
    code = 0
    for j in range(_RAG_BITS):
        dot = sum(_rag_plane(j, d) * v for d, v in enumerate(vec))
        if dot > 0:
            code |= 1 << j
    return code


def _rag_code_sql() -> str:
    """The 16-bit code of a ``cv`` list column, SQL form."""
    from spark_glove_spark.operators.text_analysis import _SC_DIMS

    return " + ".join(
        "(CASE WHEN ("
        + " + ".join(
            f"cv[{d + 1}] * ({_rag_plane(j, d)})" for d in range(_SC_DIMS)
        )
        + f") > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(_RAG_BITS)
    )


def _rag_chunk_ctes() -> str:
    """The chunking CTE chain (toks .. chunks/ctoks) shared by the
    batch capstone's oracle and the streaming ingest twin's oracle —
    ONE SQL definition of the chunk space, so the two queries cannot
    drift apart."""
    from spark_glove_spark.operators.text_analysis import _SC_DIMS, _SC_SEG

    cv_sum = ", ".join(
        f"CAST(sum(v[{d + 1}]) AS BIGINT)" for d in range(_SC_DIMS)
    )
    return f"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
segs AS (
  SELECT doc_id, s,
         list_slice(t, s * {_SC_SEG} + 1, s * {_SC_SEG} + {_SC_SEG}) AS words
  FROM toks, unnest(range(len(t) // {_SC_SEG})) u(s)
),
vecs AS (
  SELECT doc_id, s, words,
         [{", ".join(_rag_seg_vec_sql(d) for d in range(_SC_DIMS))}] AS v
  FROM segs
),
dots AS (
  SELECT doc_id, s, words, v,
         lag(v) OVER (PARTITION BY doc_id ORDER BY s) AS pv
  FROM vecs
),
brk AS (
  SELECT doc_id, s, words, v,
         CASE WHEN pv IS NOT NULL
                   AND list_dot_product(v, pv) < 0 THEN 1 ELSE 0 END AS b
  FROM dots
),
segch AS MATERIALIZED (
  SELECT doc_id, s, words, v,
         doc_id * {_RAG_CMUL}
           + sum(b) OVER (PARTITION BY doc_id ORDER BY s
                          ROWS UNBOUNDED PRECEDING) AS cid
  FROM brk
),
chunks AS MATERIALIZED (
  SELECT CAST(cid AS BIGINT) AS cid, [{cv_sum}] AS cv
  FROM segch GROUP BY 1
),
ctoks AS MATERIALIZED (
  SELECT CAST(cid AS BIGINT) AS cid, unnest(words) AS word FROM segch
)"""


def _rag_oracle() -> str:
    qrows = ", ".join(f"({i}, '{t}')" for i, t in _RAG_QUERIES)
    qvec_rows = ", ".join(
        f"({i}, {_rag_qvec(t)}, {_rag_code(_rag_qvec(t))})"
        for i, t in _RAG_QUERIES
    )
    code_expr = _rag_code_sql()
    return f"""
WITH {_rag_chunk_ctes()},
queries AS (SELECT * FROM (VALUES {qrows}) q(query_id, qtext)),
qvecs AS MATERIALIZED (
  SELECT query_id, qv, qcode FROM (VALUES {qvec_rows}) v(query_id, qv, qcode)
),
dnum AS MATERIALIZED (
  SELECT q.query_id, c.cid,
         CAST(list_dot_product(q.qv, c.cv) AS BIGINT) AS num
  FROM qvecs q CROSS JOIN chunks c
),
truth AS MATERIALIZED (
  SELECT query_id, cid FROM (
    SELECT query_id, cid,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY num DESC, cid) AS trn
    FROM dnum
  ) WHERE trn <= {_RAG_K}
),
codes AS (SELECT cid, {code_expr} AS code FROM chunks),
short AS MATERIALIZED (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY bit_count(xor(CAST(c.code AS BIGINT),
                                    CAST(q.qcode AS BIGINT))), c.cid
           ) AS hrn
    FROM codes c CROSS JOIN qvecs q
  ) WHERE hrn <= {_RAG_SHORT}
),
sys AS MATERIALIZED (
  SELECT query_id, cid, srn FROM (
    SELECT s.query_id, s.cid,
           row_number() OVER (PARTITION BY s.query_id
                              ORDER BY d.num DESC, s.cid) AS srn
    FROM short s
    JOIN dnum d ON d.query_id = s.query_id AND d.cid = s.cid
  ) WHERE srn <= {_RAG_K}
),
tf AS MATERIALIZED (
  SELECT cid, word, CAST(count(*) AS BIGINT) AS tf FROM ctoks GROUP BY 1, 2
),
dl AS (SELECT cid, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_chunks, avg(dl) AS avgdl FROM dl),
qterms AS (SELECT query_id, unnest(string_split(qtext, ' ')) AS word FROM queries),
bm AS MATERIALIZED (
  SELECT qt.query_id, tf.cid,
         round(sum(
             ln(1.0 + (stats.n_chunks - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
         ), 6) AS bm25
  FROM qterms qt
  JOIN tf ON tf.word = qt.word
  JOIN df ON df.word = qt.word
  JOIN dl ON dl.cid = tf.cid
  CROSS JOIN stats
  GROUP BY 1, 2
),
srank AS MATERIALIZED (
  SELECT query_id, cid, r_sparse FROM (
    SELECT query_id, cid,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY bm25 DESC, cid) AS r_sparse
    FROM bm
  ) WHERE r_sparse <= {_RAG_K}
),
fused AS (
  SELECT coalesce(s.query_id, y.query_id) AS query_id,
         coalesce(s.cid, y.cid) AS cid,
         s.r_sparse, y.srn AS r_dense
  FROM srank s
  FULL OUTER JOIN sys y ON y.query_id = s.query_id AND y.cid = s.cid
),
rrf AS MATERIALIZED (
  SELECT query_id, cid,
         CAST(coalesce(r_sparse, 0) AS BIGINT) AS r_sparse,
         CAST(coalesce(r_dense, 0) AS BIGINT) AS r_dense,
         round(CASE WHEN r_sparse IS NOT NULL
                    THEN 1.0 / ({_RAG_RRF_K} + r_sparse) ELSE 0.0 END
               + CASE WHEN r_dense IS NOT NULL
                      THEN 1.0 / ({_RAG_RRF_K} + r_dense) ELSE 0.0 END, 6)
           AS rrf
  FROM fused
),
served AS (
  SELECT query_id, cid, r_sparse, r_dense, rrf, srv_rank FROM (
    SELECT query_id, cid, r_sparse, r_dense, rrf,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rrf DESC, cid) AS srv_rank
    FROM rrf
  ) WHERE srv_rank <= {_RAG_SERVE}
),
lab AS (
  SELECT s.query_id, s.srn,
         CASE WHEN t.cid IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM sys s
  LEFT JOIN truth t ON t.query_id = s.query_id AND t.cid = s.cid
),
met AS (
  SELECT query_id,
         round(CAST(sum(rel) AS DOUBLE) / {_RAG_K}, 6) AS recall_k,
         round(coalesce(1.0 / min(CASE WHEN rel = 1 THEN srn END), 0.0), 6)
           AS rr
  FROM lab GROUP BY 1
)
SELECT sv.query_id,
       CAST(sv.srv_rank AS BIGINT) AS srv_rank,
       sv.cid,
       sv.cid // {_RAG_CMUL} AS doc_id,
       sv.cid % {_RAG_CMUL} AS chunk_id,
       sv.r_sparse, sv.r_dense, sv.rrf,
       m.recall_k, m.rr
FROM served sv JOIN met m USING (query_id)
"""


def _rag_segch(docs: DataFrame) -> DataFrame:
    """Documents -> scored segments with chunk assignment: the
    h17_semantic_chunking algebra (8-token segments, md5 integer
    pseudo-embeddings, sign-of-dot boundaries, per-doc prefix-sum
    chunk ids) producing (doc_id, s, words, v, b, cid). Per-doc
    windows only — a micro-batch of WHOLE documents chunks exactly as
    the full corpus does, which is what makes the streaming ingest
    tooth (tests/test_streaming.py) an equality, not an
    approximation."""
    from spark_glove_spark.operators.text_analysis import _SC_DIMS, _SC_SEG

    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    nseg = F.floor(F.size("t") / _SC_SEG).cast("long")
    segs = toks.where(nseg >= 1).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("long"), nseg - 1)).alias("s"),
        "t",
    )
    words = F.slice("t", (F.col("s") * _SC_SEG + 1).cast("int"), _SC_SEG)
    zero = F.lit(0).cast("long")

    def coord(dd: int):
        return F.aggregate(
            words,
            zero,
            lambda acc, w: acc
            + (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"sc{dd}|"), w)), 1, 8),
                    16,
                    10,
                ).cast("long")
                % 2001
                - 1000
            ),
        )

    vecs = segs.select(
        "doc_id",
        "s",
        words.alias("words"),
        F.array(*[coord(dd) for dd in range(_SC_DIMS)]).alias("v"),
    )
    w_doc = Window.partitionBy("doc_id").orderBy("s")
    sdots = vecs.withColumn("pv", F.lag("v").over(w_doc))
    segdot = F.aggregate(
        F.zip_with("v", "pv", lambda x, y: x * y), zero, lambda a, x: a + x
    )
    brk = sdots.select(
        "doc_id",
        "s",
        "words",
        "v",
        F.when(F.col("pv").isNotNull() & (segdot < 0), F.lit(1))
        .otherwise(F.lit(0))
        .alias("b"),
    )
    return brk.withColumn(
        "cid",
        (
            F.col("doc_id") * _RAG_CMUL
            + F.sum("b").over(
                w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        ).cast("long"),
    )


def _rag_chunk_frame(segch: DataFrame) -> DataFrame:
    """(cid, cv): per-chunk summed integer embedding."""
    from spark_glove_spark.operators.text_analysis import _SC_DIMS

    return segch.groupBy("cid").agg(
        F.array(
            *[
                F.sum(F.col("v").getItem(dd)).cast("long")
                for dd in range(_SC_DIMS)
            ]
        ).alias("cv")
    )


def _rag_code_col():
    """The 16-bit BQ code of a ``cv`` column: sign bits of _RAG_BITS
    LCG hyperplane projections, packed little-endian."""
    from spark_glove_spark.operators.text_analysis import _SC_DIMS

    zero = F.lit(0).cast("long")
    return sum(
        (
            F.when(
                sum(
                    (
                        F.col("cv").getItem(dd) * F.lit(_rag_plane(j, dd))
                        for dd in range(_SC_DIMS)
                    ),
                    start=zero,
                )
                > 0,
                F.lit(1 << j),
            ).otherwise(F.lit(0))
            for j in range(_RAG_BITS)
        ),
        start=F.lit(0),
    ).cast("long")


@query(
    "pipeline_rag_serving",
    section="H15,H16,H17,H10,E1,D1",
    tags=("pipeline", "llm-pipeline", "ann"),
    oracle=_rag_oracle(),
)
def pipeline_rag_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG SERVING capstone, fully ORACLE-checked end to end — the
    retrieval-side counterpart of pipeline_curate_corpus' ingest
    funnel, composing five certified lanes into the query path a
    production RAG stack runs: (1) documents split into SEMANTIC
    CHUNKS (the h17_semantic_chunking algebra verbatim: 8-token
    segments, exact-integer md5 pseudo-embeddings, boundaries where
    adjacent segment dots go negative); (2) each chunk gets a summed
    integer embedding and a 16-bit BQ CODE (sign bits of LCG
    hyperplane projections — the h16_bq_portable tier scaled to the
    chunk space); (3) three canned queries embed into the SAME word
    space and search the code table by Hamming distance, shortlist
    _RAG_SHORT chunks, and rerank ONLY the shortlist by exact dot —
    the system's dense candidate list; (4) the same query terms drive
    the h10 BM25 lexical ranker over chunk token streams, and the two
    lists fuse by reciprocal rank (h15_rrf_fusion math) into the
    served top-_RAG_SERVE; (5) the BQ tier is EVALUATED in the same
    query — recall@k and reciprocal rank vs the exact brute-force
    truth (h15_retrieval_metrics math) ride every served row, the
    way serving stacks ship their recall dashboards.

    Every stage keeps the house determinism rules (integer dots, LCG
    planes, round-6 doubles, ties on cid), so ONE DuckDB oracle
    hash-matches the whole composite.

    100 TB: chunking is one scan with per-doc windows; the code table
    is ~2 bytes/chunk scanned code-only (phase 1 never touches
    vectors); rerank fetches <= queries x _RAG_SHORT chunk vectors by
    id; BM25 reuses one persisted (chunk, word) aggregate; fusion and
    metrics touch candidate lists only. The only corpus-wide vector
    pass is the TRUTH side of the metrics — the part a production
    stack samples, exactly as h15_retrieval_metrics documents."""
    d = parallelized(table(spark, sf_dir, "documents"))
    zero = F.lit(0).cast("long")

    segch = defer_unpersist(_rag_segch(d).persist())
    chunks = defer_unpersist(_rag_chunk_frame(segch).persist())
    ctoks = segch.select("cid", F.explode("words").alias("word"))

    qvecs = spark.createDataFrame(
        [(i, _rag_qvec(t), _rag_code(_rag_qvec(t))) for i, t in _RAG_QUERIES],
        "query_id long, qv array<long>, qcode long",
    )
    num = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x * y), zero, lambda a, x: a + x
    )

    # --- exact truth: the one corpus-wide vector pass (broadcast-probe
    # scan, h15 shape) ---
    wq_num = Window.partitionBy("query_id").orderBy(F.col("num").desc(), "cid")
    truth = (
        chunks.crossJoin(F.broadcast(qvecs.select("query_id", "qv")))
        .select("query_id", "cid", num.alias("num"))
        .withColumn("trn", F.row_number().over(wq_num))
        .where(F.col("trn") <= _RAG_K)
        .select("query_id", F.col("cid").alias("tcid"))
    )

    # --- BQ tier: 16-bit codes, Hamming shortlist, id-fetch rerank ---
    codes = chunks.select("cid", _rag_code_col().alias("code"))
    hamming = F.bit_count(F.col("code").bitwiseXOR(F.col("qcode")))
    wq_ham = Window.partitionBy("query_id").orderBy("hamming", "cid")
    short = (
        codes.crossJoin(F.broadcast(qvecs.select("query_id", "qcode")))
        .select("query_id", "cid", hamming.alias("hamming"))
        .withColumn("hrn", F.row_number().over(wq_ham))
        .where(F.col("hrn") <= _RAG_SHORT)
        .select("query_id", "cid")
    )
    sys_list = defer_unpersist(
        chunks.join(F.broadcast(short), "cid")
        .join(F.broadcast(qvecs.select("query_id", "qv")), "query_id")
        .select("query_id", "cid", num.alias("num"))
        .withColumn("srn", F.row_number().over(wq_num))
        .where(F.col("srn") <= _RAG_K)
        .select("query_id", "cid", "srn")
        .persist()
    )

    # --- sparse ranker: h10 BM25 over the chunk token streams ---
    # No full-vocabulary (chunk, word) aggregate anywhere (r14
    # optimization round, second pass; guide §2.3): BM25 consumes only
    # (a) per-chunk token counts — computed directly as a narrow
    # count-per-cid aggregate (bit-identical to summing per-word term
    # frequencies, which is how the former persisted tf table derived
    # it), and (b) term frequencies FOR QUERY WORDS — aggregated after
    # a broadcast semi-join of the token stream against the ~tens of
    # query terms. The former shape materialized and cached the whole
    # vocabulary's (chunk, word) aggregate to serve those two
    # consumers; at corpus scale that was the largest shuffle + the
    # largest cache in the BM25 phase. dl is persisted instead —
    # chunk-count rows of 16 bytes — for its two consumers (the score
    # join and the corpus stats).
    dl = defer_unpersist(
        ctoks.groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("dl"))
        .persist()
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.avg("dl").alias("avgdl"),
    )
    qterms = spark.createDataFrame(
        [(i, w) for i, t in _RAG_QUERIES for w in t.split(" ")],
        "query_id long, word string",
    )
    # persisted for its two consumers (df aggregate + score join):
    # query-word rows only, ≤ chunks × |query terms| at any corpus size
    tfq = defer_unpersist(
        ctoks.join(F.broadcast(qterms.select("word").distinct()), "word")
        .groupBy("cid", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .persist()
    )
    dfreq = tfq.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    score = (
        F.log(
            1.0 + (F.col("n_chunks") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * F.col("tf")
        * 2.2
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    bm = (
        tfq.join(F.broadcast(qterms), "word")
        .join(F.broadcast(dfreq), "word")
        .join(dl, "cid")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "cid")
        .agg(F.round(F.sum(score), 6).alias("bm25"))
    )
    wq_bm = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), "cid")
    srank = (
        bm.withColumn("r_sparse", F.row_number().over(wq_bm))
        .where(F.col("r_sparse") <= _RAG_K)
        .select("query_id", "cid", "r_sparse")
    )

    # --- reciprocal-rank fusion + serve ---
    fused = srank.join(
        sys_list.withColumnRenamed("srn", "r_dense"),
        ["query_id", "cid"],
        "full",
    )
    rrf = F.round(
        F.when(
            F.col("r_sparse").isNotNull(), 1.0 / (_RAG_RRF_K + F.col("r_sparse"))
        ).otherwise(0.0)
        + F.when(
            F.col("r_dense").isNotNull(), 1.0 / (_RAG_RRF_K + F.col("r_dense"))
        ).otherwise(0.0),
        6,
    )
    wq_rrf = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), "cid")
    served = (
        fused.select(
            "query_id",
            "cid",
            F.coalesce("r_sparse", F.lit(0)).cast("long").alias("r_sparse"),
            F.coalesce("r_dense", F.lit(0)).cast("long").alias("r_dense"),
            rrf.alias("rrf"),
        )
        .withColumn("srv_rank", F.row_number().over(wq_rrf).cast("long"))
        .where(F.col("srv_rank") <= _RAG_SERVE)
    )

    # --- recall dashboard: the h15_retrieval_metrics math ---
    # truth is bounded at queries × _RAG_K rows at ANY corpus size, so
    # the broadcast is scale-safe and spares the metrics join a
    # shuffle of the (equally bounded) system list (r14, guide §3.1)
    lab = sys_list.join(
        F.broadcast(truth),
        (sys_list.query_id == truth.query_id) & (sys_list.cid == truth.tcid),
        "left",
    ).select(
        sys_list.query_id,
        sys_list.srn,
        F.col("tcid").isNotNull().cast("int").alias("rel"),
    )
    met = lab.groupBy("query_id").agg(
        F.round(F.sum("rel").cast("double") / F.lit(float(_RAG_K)), 6).alias(
            "recall_k"
        ),
        F.round(
            F.coalesce(
                F.lit(1.0) / F.min(F.when(F.col("rel") == 1, F.col("srn"))),
                F.lit(0.0),
            ),
            6,
        ).alias("rr"),
    )
    return served.join(F.broadcast(met), "query_id").select(
        "query_id",
        "srv_rank",
        "cid",
        F.expr(f"cid div {_RAG_CMUL}").alias("doc_id"),
        (F.col("cid") % _RAG_CMUL).alias("chunk_id"),
        "r_sparse",
        "r_dense",
        "rrf",
        "recall_k",
        "rr",
    )


def _rag_ingest_epoch(codes_path: str, batch_df: DataFrame, epoch_id: int) -> None:
    """One i27 micro-batch: chunk + BQ-code the batch's documents and
    append the codes to the txlog table at ``codes_path`` exactly once
    (``rag-codes`` watermark). Module-level so a test can re-deliver
    an epoch to the registered lane's table."""
    from spark_glove_spark.sources import txlog

    txlog.commit_epoch(
        epoch_id,
        [(codes_path, "rag-codes")],
        lambda: [
            _rag_chunk_frame(_rag_segch(batch_df)).select(
                "cid", _rag_code_col().alias("code")
            )
        ],
    )


@query(
    "i27_streaming_rag_ingest",
    section="A5,I5,H16,H17",
    tags=("streaming", "pipeline", "ann", "llm-pipeline"),
    # the oracle recomputes the chunk space in one shot from the SAME
    # CTE chain the batch capstone's oracle uses (no drift possible)
    oracle=(
        f"WITH {_rag_chunk_ctes()}\n"
        f"SELECT cid, CAST({_rag_code_sql()} AS BIGINT) AS code FROM chunks"
    ),
)
def i27_streaming_rag_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline_rag_serving's INGEST lane as a registered streaming
    query, fully ORACLE-checked: documents replay as a key-ranged file
    stream, each micro-batch is chunked and BQ-coded (the capstone's
    exact algebra — per-doc windows, stateless planes, so micro-batch
    boundaries cannot change a single code) and appended to a txlog
    code table under IDEMPOTENT epoch commits. The returned frame is
    the ACCUMULATED code table itself, and the oracle recomputes the
    whole chunk space from the documents table in one shot — a hash
    match proves streamed index ingest converges to the batch index
    row-for-row, the strongest batch-equivalence contract available
    (the i24 discipline, carried by the RAG chunk space).

    In-body teeth (explicit raises, survive -O): the replay must have
    delivered >= 2 micro-batches, or the equality is vacuous, and a
    re-fired final epoch must land nothing.

    100 TB: per-trigger cost is chunk+code over the batch's documents
    (one map pass + per-doc windows) + one 10-byte-row append; the
    txn watermark makes restart re-deliveries no-ops, so the serving
    tier (h16_bq_persisted's pinned snapshots) can trail ingest
    without ever seeing a double-counted chunk."""
    from spark_glove_spark.sources import txlog
    from spark_glove_spark.streaming.jobs import (
        refire_last_epoch,
        run_stream_foreach_batch,
        stage_ranged_stream,
    )

    d = table(spark, sf_dir, "documents")
    base_dir = deferred_tempdir("sgs_rag_ingest_")
    schema = (
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    sdf = stage_ranged_stream(
        d, "doc_id", os.path.join(base_dir, "docs"), schema, n_files=3
    )
    codes_path = os.path.join(base_dir, "codes")
    txlog.create_empty(
        spark.createDataFrame([], "cid long, code long"), codes_path
    )

    def apply_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        _rag_ingest_epoch(codes_path, batch_df, epoch_id)

    run_stream_foreach_batch(sdf, apply_epoch, output_mode="append")
    # epoch commits on top of the empty version 0
    n_epochs = txlog.current_version(codes_path)
    if n_epochs < 2:
        raise AssertionError(f"expected >= 2 micro-batches, saw {n_epochs}")
    refire_last_epoch(apply_epoch, d, [(codes_path, "rag-codes")])
    # materialize: the code table lives in the tempdir the deferred
    # cleanup reclaims at the next declared query
    return txlog.read(spark, codes_path).select("cid", "code").localCheckpoint(
        eager=True
    )

