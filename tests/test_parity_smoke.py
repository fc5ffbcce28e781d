"""Oracle-parity smoke inside pytest (SURVEY.md §5.3.3).

tools/paritycheck.py is the full gate; this runs a representative
slice at sf0.001 on every `pytest` invocation so a broken column
alias, rounding change, or oracle drift fails CI immediately instead
of at driver time. One query per §2 area, biased toward the shapes
most likely to drift (floats, arrays, timestamps, UDFs).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from paritycheck import compare  # noqa: E402

from spark_glove_spark import api  # noqa: E402
from spark_glove_spark.schemas import TABLES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

SMOKE_QUERIES = [
    "a3_parquet_roundtrip",   # sink round-trip
    "b5_case_when",           # conditionals
    "c1_broadcast_dim_join",  # broadcast join
    "c8_asof_join",           # temporal join
    "d1_pricing_summary",     # float aggs + rounding contract
    "d7_collect_list",        # ordered array agg
    "e4_running_aggs",        # window frames
    "g9_json",                # JSON extraction
    "h3_cooccurrence_by_distance",  # the signature operator
    "h7_topk_cosine",         # vector math
    "h14_jaccard",            # array set ops
    "h14_similarity_join",    # prefix-filter join vs brute-force oracle
    "i1_tumbling_window",     # streaming batch-equivalence
    "j4_grouped_map_centroid",  # Arrow grouped-map boundary
    "j6_udtf",                # UDTF lateral
    "h13_dedup_clusters",     # iterative connected components vs recursive CTE
    "sql_tpch_q13",           # zero-preserving outer-join histogram
    "h17_sequence_packing",   # per-bucket running-sum windows
    "c9_sessionize",          # microsecond gap-cut windows
    "d12_heavy_hitters",      # bit-exact count-min sketch
    "c11_fuzzy_join",         # deletion-neighborhood blocking vs brute force
    "graph_bfs_distance",     # iterative BFS vs recursive CTE
]


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", SMOKE_QUERIES)
def test_query_matches_oracle(spark, oracle_con, name):
    q = api.REGISTRY[name]
    assert q.oracle is not None, f"{name} has no oracle — pick an oracle-checked query"
    sdf = q.fn(spark, SF_DIR).toPandas()
    odf = oracle_con.execute(q.oracle).fetchdf()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", ["d1_pricing_summary", "g4_datetime", "i1_tumbling_window", "c8_asof_join"])
def test_timestamp_queries_survive_non_utc_session(spark, oracle_con, name):
    """The driver owns its SparkSession and may run any timezone; the
    registry pins spark.sql.session.timeZone per query, so results must
    match the oracle even from a session set to America/New_York.
    (Validated against all 95 queries in round 1; pinned here on the
    timestamp-heavy ones.)"""
    ns = spark.newSession()
    ns.conf.set("spark.sql.session.timeZone", "America/New_York")
    q = api.REGISTRY[name]
    sdf = q.fn(ns, SF_DIR).toPandas()
    odf = oracle_con.execute(q.oracle).fetchdf()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


SLOW_PREFIXES = ("h5_", "h13_", "h16_", "i1", "i2", "i3", "i4", "i5", "i6", "i7", "i8", "h6_", "mm_feature")


def _complex_columns(name, df):
    from pyspark.sql import types as T

    return [
        f"{name}.{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


@pytest.fixture(scope="module")
def registry_sweep(spark):
    """ONE pass over the registry at sf0.001 that builds each query once
    and feeds the three registry-wide tests below (building every query
    once per test cost three full sweeps). Every query that any of them
    covers is built; the fast ones (not SLOW_PREFIXES) also execute.
    Per query it records build/execute errors and complex top-level
    columns, for each test to assert over exactly its own query set."""
    sweep = {}
    for name, q in api.REGISTRY.items():
        slow = name.startswith(SLOW_PREFIXES)
        if slow and q.oracle is not None:
            continue  # in none of the three query sets
        rec = sweep[name] = {"built": None, "ran": None, "complex": []}
        try:
            df = q.fn(spark, SF_DIR)
        except Exception as e:  # noqa: BLE001
            rec["built"] = rec["ran"] = f"{name}: {e}"
            continue
        rec["complex"] = _complex_columns(name, df)
        if not slow:
            try:
                df.count()
            except Exception as e:  # noqa: BLE001
                rec["ran"] = f"{name}: {e}"
    return sweep


def test_no_oracle_query_emits_complex_columns(registry_sweep):
    """Driver-comparator guard (VERDICT r1 item 3): the driver's pandas
    canonicalization crashes on array/map/struct cells, so every
    oracle-checked query must emit flat scalar top-level columns.
    The eager streaming/fit queries are skipped (their outputs are
    re-checked by the always-on strict mode in tools/paritycheck.py)."""
    names = [
        n for n, q in api.REGISTRY.items()
        if q.oracle is not None and not n.startswith(SLOW_PREFIXES)
    ]
    errors = [registry_sweep[n]["built"] for n in names if registry_sweep[n]["built"]]
    assert not errors, "\n".join(errors)
    offenders = [c for n in names for c in registry_sweep[n]["complex"]]
    assert not offenders, (
        "oracle-checked queries with complex top-level columns "
        "(driver comparator cannot hash these):\n" + "\n".join(offenders)
    )


def test_rows_only_queries_emit_flat_columns_too(registry_sweep):
    """VERDICT r6 item 1: the driver canonicalizes rows-only results
    with the same pandas sort_values/factorize pass, so the flat-column
    contract applies to EVERY registered query — the r6 red row
    (ml_pca_project's top-level array<double>) slipped through because
    the r2 guard above only swept oracle-checked queries. This sweep
    costs real time (the sketch/fit queries execute during plan
    construction) but is the only session-local proof that no
    registered query can crash the driver comparator."""
    names = [n for n, q in api.REGISTRY.items() if q.oracle is None]
    errors = [registry_sweep[n]["built"] for n in names if registry_sweep[n]["built"]]
    assert not errors, "\n".join(errors)
    offenders = [c for n in names for c in registry_sweep[n]["complex"]]
    assert not offenders, (
        "rows-only queries with complex top-level columns "
        "(driver comparator crashes on these even without an oracle):\n"
        + "\n".join(offenders)
    )


def test_every_registered_query_executes(registry_sweep):
    """Registry-wide smoke at sf0.001: every declared query must build
    and execute (the expensive sketch/training/streaming ones are
    exercised by their own dedicated tests and skipped here)."""
    failures = [
        registry_sweep[n]["ran"]
        for n in api.REGISTRY
        if not n.startswith(SLOW_PREFIXES) and registry_sweep[n]["ran"]
    ]
    assert not failures, "\n".join(failures)
