"""Product-quantization search: DuckDB twin parity + recall floor.

Pytest-only operator (driver registry capped at 50 per CLAUDE.md);
the DuckDB twin here is the same differential oracle the driver runs
for registered queries.
"""

from __future__ import annotations

import pytest

from monday_etl_automation_spark.plans.embed_ops import cosine_topk
from monday_etl_automation_spark.plans.pq_ops import (
    _CAND,
    _K,
    _M,
    _codes_arr_sql,
    _pq_sql,
    _train_pq,
    pq_topk,
)
from tests.oracle_compare import assert_matches_oracle
from tests.plan_helpers import final_plan, hash_exchange_keys

# recall is statistical: measure where the query set is large enough
# for stable floors (same rationale as tests/test_ann_recall.py)
_RECALL_SF = "/root/testdata/sf0.01"


def test_pq_matches_oracle(spark, sf_dir):
    assert_matches_oracle(pq_topk(spark, sf_dir), _pq_sql("duckdb"), sf_dir)


def test_pq_matches_oracle_sf001(spark):
    assert_matches_oracle(pq_topk(spark, _RECALL_SF), _pq_sql("duckdb"), _RECALL_SF)


def test_pq_recall_floor(spark):
    exact = {}
    for r in cosine_topk(spark, _RECALL_SF).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in pq_topk(spark, _RECALL_SF).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(approx.get(q, set()) & nbrs) for q, nbrs in exact.items())
    total = sum(len(nbrs) for nbrs in exact.values())
    r = hits / total
    # 16 x 4-dim subspaces, 16-entry codebooks, 100 ADC candidates
    # exact-re-ranked: measured 0.96 (sf0.01) / 0.865 (sf0.1) on the
    # near-uniform synthetic embeddings. Floor 0.80 matches the
    # LSH/IVF floors and catches any recall-gutting refactor.
    assert r >= 0.80, f"PQ recall {r:.3f} below design floor"


def test_pq_codes_are_compact(spark, sf_dir):
    """The scale contract: every vector encodes to exactly _M codes,
    each in [0, _K) — the 8-byte-per-vector representation the ADC
    scan reads instead of the 256-byte float vectors."""
    codes, cent = _train_pq(spark, sf_dir)
    rows = codes.groupBy("vec_id").count().collect()
    assert rows and all(r["count"] == _M for r in rows)
    bad = codes.where(f"code < 0 OR code >= {_K}").count()
    assert bad == 0
    # result shape: top-5 per query, never more
    n = pq_topk(spark, sf_dir).groupBy("query_id").count().collect()
    assert n and all(r["count"] <= 5 for r in n)


def test_pq_folded_search_plan(spark, sf_dir):
    """r19 fold pin: the persisted-meta ADC search must run shuffle-free
    up to the per-query window — no hash-partitioning exchange from an
    exploded-codes aggregation (guide §2.4), no CartesianProduct (the
    bounded query side must broadcast), no SortMergeJoin of the
    KB-sized metadata relations. Audited on the executed plan: its one
    hash shuffle is the candidate window's, keyed on the query id."""
    plan = final_plan(pq_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert hash_exchange_keys(plan) == ["qid"]


def test_pq_plan_counter_fires(spark, sf_dir):
    """Sabotage: the counter the pin above relies on must see a hash
    shuffle that is added to the same search."""
    plan = final_plan(pq_topk(spark, sf_dir).groupBy("neighbor_id").count())
    assert sorted(hash_exchange_keys(plan)) == ["neighbor_id", "qid"]


def test_pq_codes_array_fails_on_missing_code_row(spark, sf_dir):
    """The folded codes array must fail loudly, not rank a vector last
    on a NULL slot, when a (sub, code) row is missing."""
    codes, _ = _train_pq(spark, sf_dir)
    codes.createOrReplaceTempView("_pq_codes_ok")
    assert spark.sql(_codes_arr_sql("_pq_codes_ok", "vec_id")).count() > 0
    victim = codes.select("vec_id").first()["vec_id"]
    codes.where(f"NOT (vec_id = {victim} AND sub = 3)").createOrReplaceTempView("_pq_codes_bad")
    with pytest.raises(Exception, match="lacks one of its"):
        spark.sql(_codes_arr_sql("_pq_codes_bad", "vec_id")).collect()
