"""Materialize a 10x replica of an sf dir for scaling probes (r15).

VERDICT r14 items 2 and 4: at sf0.1 the bench can no longer resolve a
parallelism win (every 8->32-core ratio <= 1.17) or a join-strategy
choice (SHJ vs SMJ reads equal within host noise) — the data is too
small. This tool replicates the probe-relevant tables 10x with
DISJOINT key offsets (so join multiplicities, per-user group sizes and
per-doc shapes are preserved rather than multiplied) and 32 output
files per table (so the scan parallelizes without `parallelized()`),
giving the r15 A/Bs a rung where strategy and core count move the
needle. Probe-only artifact under /tmp — never read by bench.py or any
declared query.

Document text is salted per copy: copy 0 keeps each text verbatim and
copy r > 0 reorders its tokens by a hash of (token, position, r). A
verbatim copy would give every document 9 exact clones, and the dedup
stages of the curate lanes would drop ~90% of the rung. Reordering
keeps each document's tokens, length and stopword ratio (so quality
filters pass the same documents), keeps exact and near duplicates
inside a copy, and shares almost no shingles across copies.

Usage: python tools/mk10x_r15.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from spark_glove_spark.session import get_spark  # noqa: E402
from spark_glove_spark.sources import table  # noqa: E402

# table -> columns that must stay DISJOINT across copies (entity keys);
# every other column replicates verbatim.
OFFSETS = {
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
}
STRIDE = 1_000_000_000
# table -> text columns salted per copy (see module docstring)
SALTED = {"documents": ["text"]}


def salted(text, rep):
    """``text`` with its space-separated tokens reordered by
    xxhash64(token, position, rep); copy 0 verbatim."""
    keyed = F.transform(
        F.split(text, " "),
        lambda t, i: F.struct(F.xxhash64(t, i, rep).alias("k"), t.alias("t")),
    )
    shuffled = F.array_join(F.transform(F.array_sort(keyed), lambda s: s["t"]), " ")
    return F.when(rep == 0, text).otherwise(shuffled)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf10x_r15"
    spark = get_spark("mk10x_r15")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out, exist_ok=True)
    for name, keys in OFFSETS.items():
        dst = os.path.join(out, f"{name}.parquet")
        if os.path.exists(dst):
            print(f"skip {name} (exists)")
            continue
        df = table(spark, sf_dir, name)
        if not keys:  # tiny dimension tables replicate once, verbatim
            df.coalesce(1).write.mode("overwrite").parquet(dst)
            print(f"copied {name}")
            continue
        reps = df.crossJoin(spark.range(10).select(F.col("id").alias("rep")))
        rep = F.col("rep")

        def copy(c: str):
            if c in keys:
                return (F.col(c) + rep * STRIDE).alias(c)
            if c in SALTED.get(name, ()):
                return salted(F.col(c), rep).alias(c)
            return F.col(c)

        cols = [copy(c) for c in df.columns]
        reps.select(*cols).repartition(32).write.mode("overwrite").parquet(dst)
        print(f"replicated {name} 10x")
    spark.stop()


if __name__ == "__main__":
    main()
