"""tools/probe.py on the session fixture: solo timing, plan dumps and
the rung's 10x replica."""

from __future__ import annotations

import os
import sys
from collections import Counter

from conftest import REPO, SF_SMOKE

sys.path.insert(0, os.path.join(REPO, "tools"))

import probe  # noqa: E402


def test_solo_reports_wall_and_jobs(spark):
    probe_ = probe.Probe(spark, SF_SMOKE)
    rec = probe.solo(probe_, ["d1_pricing_summary"], reps=1)["d1_pricing_summary"]
    assert len(rec["walls"]) == 1 and rec["walls"][0] > 0
    assert rec["jobs"] >= 1


def test_plan_writes_one_file_per_entry(spark, tmp_path):
    names = ["d1_pricing_summary", "glove_cooc_build_w10"]
    probe.plan(probe.Probe(spark, SF_SMOKE), names, str(tmp_path))
    for name in names:
        text = (tmp_path / f"{name}.txt").read_text()
        assert "Physical Plan" in text, name


def test_tenfold_documents_salts_each_copy(spark):
    """Ten copies with disjoint doc_ids; copy r > 0 keeps every
    document's token multiset, and the salt reorders some document."""
    from spark_glove_spark.sources import table

    docs = table(spark, SF_SMOKE, "documents")
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    rows = probe.tenfold(docs, "documents").select("doc_id", "text").collect()
    assert len(rows) == 10 * len(orig)
    assert len({r["doc_id"] for r in rows}) == len(rows)
    reordered = 0
    for r in rows:
        rep, src = divmod(r["doc_id"], probe.STRIDE)
        assert src in orig and 0 <= rep < 10
        if rep == 0:
            assert r["text"] == orig[src]
            continue
        assert Counter(r["text"].split(" ")) == Counter(orig[src].split(" "))
        reordered += r["text"] != orig[src]
    assert reordered > 0
