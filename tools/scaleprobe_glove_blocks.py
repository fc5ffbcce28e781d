"""H5 block-bucketing probe (VERDICT r7 item 6 / SURVEY §4.3.4).

The trainer's fused merge+AdaGrad step cogroups partial gradients with
params by ``pmod(id, blocks)`` — a FEW LARGE groups — instead of the
naive per-word grouping. SURVEY §4.3.4 claims that is what keeps
applyInArrow viable at a 400k-word vocab; this probe MEASURES the
claim instead of asserting it: one fused step over a synthetic
gradient/param set at vocab V and 10·V, per-word groups vs 32 hash
blocks, warm min-of-2 wall-clock plus the max params-group size.

Why the two strategies diverge: per-word grouping pays the fixed
Python/Arrow per-group cost (serialize key, build two Arrow tables,
call the kernel) VOCAB times per iteration — the numerator scales with
V while every group stays 1-param-row tiny. Hash blocks hold the group
count at ``blocks`` regardless of V; each kernel call is one
vectorized numpy pass over V/blocks rows, so cost scales with DATA,
not with group count. Recorded in PLANS.md.

Usage: python tools/scaleprobe_glove_blocks.py [V] (default 4000)
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from spark_glove_spark.glove.trainer import (  # noqa: E402
    _PARAMS_SCHEMA,
    _make_step_kernel,
)
from spark_glove_spark.session import get_spark  # noqa: E402

DIM = 16
BLOCKS = 32
PARTIALS = 2  # partial-gradient rows per (word, side) — ~X partitions touched


def _fixture(spark, vocab_n: int):
    """Synthetic params (V rows) + partial gradients (V×2×PARTIALS
    rows) in the trainer's exact schemas, values seeded per-id so the
    frames are deterministic and partition-independent."""
    # separate range scans for the two sides — deriving both from ONE
    # frame makes the cogroup an ambiguous self-join
    ids = spark.range(vocab_n).select(F.col("id"))
    gids = spark.range(vocab_n).select(F.col("id"))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda k: ((F.col("id") * 37 + k * 53) % 21 - 10) / 100.0,
    )
    ones = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)), lambda _: F.lit(1.0)
    )
    params = ids.select(
        "id",
        vec.alias("w"), vec.alias("wc"),
        F.lit(0.0).alias("b"), F.lit(0.0).alias("bc"),
        ones.alias("gw"), ones.alias("gwc"),
        F.lit(1.0).alias("gb"), F.lit(1.0).alias("gbc"),
    )
    grads = (
        gids.crossJoin(
            spark.createDataFrame(
                [(s, p) for s in (0, 1) for p in range(PARTIALS)],
                "side int, p int",
            )
        )
        .select(
            "id",
            "side",
            F.transform(
                F.sequence(F.lit(0), F.lit(DIM - 1)),
                lambda k: ((F.col("id") + k + F.col("p")) % 7 - 3) / 50.0,
            ).alias("dvec"),
            (((F.col("id") + F.col("p")) % 5 - 2) / 50.0).alias("dbias"),
            F.lit(3).cast("long").alias("dn"),
        )
    )
    return (
        params.repartition(BLOCKS, "id").persist(),
        grads.repartition(BLOCKS, "id").persist(),
    )


def _run(params, grads, key_expr) -> tuple[float, int]:
    kernel = _make_step_kernel(0.05)
    best = float("inf")
    for _ in range(2):  # warm min-of-2 (PLANS.md probe discipline)
        t0 = time.time()
        out = (
            grads.groupBy(key_expr.alias("blk"))
            .cogroup(params.groupBy(key_expr.alias("blk")))
            .applyInArrow(kernel, schema=_PARAMS_SCHEMA)
        )
        n = out.count()
        best = min(best, time.time() - t0)
    return best, n


def main() -> None:
    base_v = int(sys.argv[1]) if len(sys.argv) > 1 else 4000
    spark = get_spark("glove-blocks-probe")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"dim={DIM} blocks={BLOCKS} partials/side={PARTIALS}")
    for v in (base_v, base_v * 10):
        params, grads = _fixture(spark, v)
        params.count(), grads.count()
        t_word, _ = _run(params, grads, F.col("id"))
        t_blk, _ = _run(params, grads, F.pmod(F.col("id"), F.lit(BLOCKS)))
        print(
            f"V={v:>7}: per-word groups {t_word:6.2f} s "
            f"(max group = 1 param row, {v} groups) | "
            f"hash blocks {t_blk:6.2f} s "
            f"(max group ~ {v // BLOCKS} param rows, {BLOCKS} groups) | "
            f"speedup {t_word / t_blk:4.1f}x"
        )
        params.unpersist(), grads.unpersist()
    _mem_probe(spark, base_v * 10)


def _jvm_used(spark) -> int:
    """Used JVM heap in bytes after a GC nudge (local mode: driver and
    executors share this heap, so deltas UPPER-BOUND the driver-side
    cost a cluster would see)."""
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    spark.sparkContext._jvm.java.lang.System.gc()
    time.sleep(0.5)
    return int(rt.totalMemory() - rt.freeMemory())


def _mem_probe(spark, v: int) -> None:
    """Driver-ceiling measurement (VERDICT r9 item 8): what the vocab
    decade costs in MEMORY, not just wall-clock.

    * vocab broadcast — the word→id map cooccurrence_on_vocab
      broadcasts into every task (the only vocab-sized BROADCAST in
      the fit path): measured as the used-heap delta across
      materializing a broadcast hash join against it.
    * params table — V × (2 dim-vectors + 4 AdaGrad scalars): measured
      as the used-heap delta across persisting it. At dim 50 and
      V=400k this is ~45M weights, far past the trainer's
      broadcast_max_weights=2M guard — the number RECORDS why params
      must take the pre-partitioned cogroup path, never a broadcast."""
    from pyspark.sql import functions as F  # noqa: F811

    words = spark.range(v).select(
        F.concat(F.lit("w"), F.format_string("%07d", F.col("id"))).alias(
            "word"
        ),
        F.col("id"),
    )
    base = _jvm_used(spark)
    probe = spark.range(v).select(
        F.concat(F.lit("w"), F.format_string("%07d", F.col("id"))).alias(
            "word"
        )
    )
    probe.join(F.broadcast(words), "word").select(
        F.count(F.lit(1))
    ).collect()
    bcast = _jvm_used(spark) - base
    params, _ = _fixture(spark, v)
    base2 = _jvm_used(spark)
    params.count()
    pmem = _jvm_used(spark) - base2
    params.unpersist()
    print(
        f"V={v:>7} driver-ceiling: vocab broadcast ≈ {bcast / 1e6:6.1f} MB "
        f"heap delta | params table (dim {DIM}) persisted ≈ "
        f"{pmem / 1e6:6.1f} MB heap delta "
        f"(> broadcast_max_weights guard at dim≥1 for V·dim="
        f"{v * DIM / 1e6:.1f}M weights)"
    )


if __name__ == "__main__":
    main()
