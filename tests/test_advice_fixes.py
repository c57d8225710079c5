"""Regression tests for the round-1 ADVICE findings.

1. Block-max pruning must be disabled when a delete log exists: θ derived
   from probe scores that include deleted docs is NOT a valid lower bound
   for the live top-k (a high-scoring deleted doc inflates θ and prunes
   blocks holding live true hits).
2. Single-clause fast path must honor minShouldMatch when every SHOULD
   term has df=0 (correct result: empty).
3. Bulk top-k must treat a boost=0 MUST clause with df>0 as a live
   zero-contribution match constraint, not as an empty result.
"""
import shutil

import numpy as np
import pytest

from lucenenet_spark import oracle
from lucenenet_spark.operators.search import IndexSearcher
from lucenenet_spark.plans.query import BooleanQuery, TermQuery

from .conftest import hits


@pytest.fixture()
def del_index_1seg(spark, index_dir_1seg, tmp_path):
    d = str(tmp_path / "delidx1")
    shutil.copytree(index_dir_1seg, d)
    return d


def test_prune_disabled_under_deletes(spark, del_index_1seg, oracle_index):
    # force pruning to engage whenever legal: single segment + threshold 1
    s = IndexSearcher(spark, del_index_1seg, prune_min_postings=1)
    q = BooleanQuery(should=(TermQuery(term="popcorn"), TermQuery(term="hello")))
    ranked = oracle.top_k(
        oracle.boolean_scores(oracle_index, should=["popcorn", "hello"]), 500
    )
    # delete the top-2 docs — exactly the ones whose scores inflate θ
    dead = [d for d, _ in ranked[:2]]
    s.delete_docids(spark.createDataFrame([(i,) for i in dead], "docid long"))
    s2 = IndexSearcher(spark, del_index_1seg, prune_min_postings=1)
    got = hits(s2.search(q, 10, prune=True))
    want = [(d, sc) for d, sc in ranked if d not in set(dead)][:10]
    assert got == want


def test_msm_unsatisfiable_should_with_must(searcher, oracle_index):
    # one MUST with hits, one SHOULD with df=0, msm=1 -> empty (the SHOULD
    # can never match); the old fast path returned the MUST hits
    q = BooleanQuery(
        must=(TermQuery(term="popcorn"),),
        should=(TermQuery(term="zzzznothere"),),
        min_should_match=1,
    )
    assert searcher.search(q, 10, prune=False).count() == 0
    want = oracle.boolean_scores(
        oracle_index, must=["popcorn"], should=["zzzznothere"], min_should_match=1
    )
    assert want == {}


def test_bulk_boost0_must_is_live_constraint(spark, index_dir_1seg, oracle_index):
    # prune_min_postings=1 lets the conjunction skip prune popcorn's blocks
    # to hello's docids before the range reducer; 1 << 60 keeps it off
    s_bulk = IndexSearcher(spark, index_dir_1seg, prune_min_postings=1)
    s_rel = IndexSearcher(spark, index_dir_1seg, prune_min_postings=1 << 60)
    q = BooleanQuery(
        must=(TermQuery(term="popcorn", boost=0.0), TermQuery(term="hello"))
    )
    got_bulk = hits(s_bulk.search(q, 10, prune=False))
    got_rel = hits(s_rel.search(q, 10, prune=False))
    # oracle: docs matching BOTH terms, score = f32(0 + hello_score)
    pop = oracle.term_scores(oracle_index, "popcorn", boost=0.0)
    hel = oracle.term_scores(oracle_index, "hello")
    want_scores = {
        d: np.float32(np.float32(np.float32(0.0) + pop[d]) + hel[d])
        for d in set(pop) & set(hel)
    }
    want = oracle.top_k(want_scores, 10)
    assert got_rel == want
    assert got_bulk == want
