"""Phrase scoring under every similarity (not just BM25).

Reference: every Similarity scores every Scorer — PhraseQuery works under
DefaultSimilarity, the LM models and the whole SimilarityBase matrix
(Search/Similarities/SimilarityBase.cs Score(stats, freq, docLen);
Lucene.Net.Tests/Search/Similarities/TestSimilarityBase.cs:1 exercises
phrase queries under all sims). classic folds the per-term idfs into one
value (TFIDFSimilarity.IdfExplain); SimilarityBase members build one
BasicStats per term and MultiSimScorer sums the kernels at the shared
phrase freq.
"""
import pytest

from lucenenet_spark import oracle
from lucenenet_spark.operators.search import IndexSearcher
from lucenenet_spark.plans.query import PhraseQuery

from .conftest import hits, phrase_pairs

SIMS = ["classic", "lmd", "lmjm", "dfr_gb2", "dfr_pl2", "ib_ll", "dfr:in:b:z"]


@pytest.fixture(scope="module")
def pair(corpus_pdf, oracle_index):
    """The adjacent-token pair held by the most docs (at least 3)."""
    return phrase_pairs(corpus_pdf, oracle_index)[0]


def _want(oracle_index, terms, sim, slop=0, boost=1.0, k=15):
    return oracle.top_k(
        oracle.phrase_scores_sim(
            oracle_index, list(terms), sim, slop=slop, boost=boost
        ),
        k,
    )


@pytest.mark.parametrize("sim", SIMS)
def test_exact_phrase_parity(spark, index_dir, oracle_index, sim, pair):
    s = IndexSearcher(spark, index_dir, similarity=sim)
    q = PhraseQuery(terms=pair)
    got = hits(s.search(q, 15))
    want = _want(oracle_index, q.terms, sim)
    assert got == want, sim
    assert got  # non-vacuous


@pytest.mark.parametrize("sim", SIMS)
def test_sloppy_phrase_parity(spark, index_dir, oracle_index, sim, pair):
    s = IndexSearcher(spark, index_dir, similarity=sim)
    q = PhraseQuery(terms=pair, slop=3)
    got = hits(s.search(q, 15))
    want = _want(oracle_index, q.terms, sim, slop=3)
    assert got == want, sim
    assert got


@pytest.mark.parametrize("sim", ["classic", "lmd"])
def test_phrase_boost_parity(spark, index_dir, oracle_index, sim, pair):
    s = IndexSearcher(spark, index_dir, similarity=sim)
    q = PhraseQuery(terms=pair, boost=2.5)
    got = hits(s.search(q, 15))
    want = _want(oracle_index, pair, sim, boost=2.5)
    assert got == want, sim


@pytest.mark.parametrize("sim", ["classic", "lmd", "dfr_gb2"])
def test_phrase_bulk_path_parity(spark, index_dir, oracle_index, sim, pair):
    """Positions cut into 64-docid ranges (8 over the 500-doc corpus; the
    default range holds it whole): freq/nb must ride through the range
    slicing bit-identically before the non-BM25 kernel applies."""
    s = IndexSearcher(spark, index_dir, similarity=sim)
    s.BULK_RANGE = 64
    q = PhraseQuery(terms=pair)
    got = hits(s.search(q, 15))
    want = _want(oracle_index, q.terms, sim)
    assert got == want, sim


@pytest.mark.parametrize("sim", ["classic", "lmd", "dfr_gb2"])
def test_phrase_gather_path_parity(spark, index_dir, oracle_index, sim, pair):
    """Sloppy, with every adaptive threshold dropped: the conjunction
    prune may cut the blocks before the positions kernel."""
    s = IndexSearcher(spark, index_dir, prune_min_postings=0, similarity=sim)
    q = PhraseQuery(terms=pair, slop=2)
    got = hits(s.search(q, 15))
    want = _want(oracle_index, q.terms, sim, slop=2)
    assert got == want, sim


@pytest.mark.parametrize("sim", ["classic", "lmd", "dfr_gb2", "ib_ll"])
def test_span_near_parity_under_sims(spark, index_dir, oracle_index, sim, pair):
    """SpanNear under every similarity: span freq rides through the range
    reduce and the shared finalize applies the active kernel."""
    from lucenenet_spark.operators.spans import (
        SpanNearQuery,
        SpanTermQuery,
        span_scores_sim_oracle,
        span_search,
    )

    s = IndexSearcher(spark, index_dir, similarity=sim)
    q = SpanNearQuery(
        clauses=(SpanTermQuery(term=pair[0]), SpanTermQuery(term=pair[1])),
        slop=2,
        in_order=True,
    )
    got = hits(span_search(s, q, 15))
    want = oracle.top_k(span_scores_sim_oracle(oracle_index, q, sim), 15)
    assert got == want, sim
    assert got


@pytest.mark.parametrize("sim", ["lmd", "lmjm", "dfr_gb2", "ib_ll"])
def test_mixed_boolean_under_simbase(spark, index_dir, oracle_index, sim, pair):
    """BooleanQuery with a phrase clause under SimilarityBase members:
    queryNorm = coord = 1, so the generic nested fold is exact."""
    from lucenenet_spark.plans.query import BooleanQuery, PhraseQuery, TermQuery

    s = IndexSearcher(spark, index_dir, similarity=sim)
    q = BooleanQuery(
        must=(TermQuery(term="popcorn"),),
        should=(PhraseQuery(terms=pair),),
    )
    want = oracle.top_k(
        oracle.sim_mixed_boolean_scores(
            oracle_index, sim, must=["popcorn"],
            should=[("phrase", list(pair), 0)],
        ),
        15,
    )
    got = hits(s.search(q, 15))
    assert got == want, sim
    assert got


@pytest.mark.parametrize("shape", ["must", "should", "sloppy"])
def test_mixed_boolean_under_classic(spark, index_dir, oracle_index, shape, pair):
    """Classic TFIDF boolean with phrase clauses: shared queryNorm couples
    the clause weights, coord counts all non-prohibited clauses."""
    from lucenenet_spark.plans.query import BooleanQuery, PhraseQuery, TermQuery

    s = IndexSearcher(spark, index_dir, similarity="classic")
    slop = 2 if shape == "sloppy" else 0
    pq = PhraseQuery(terms=pair, slop=slop)
    if shape == "must":
        q = BooleanQuery(must=(pq,), should=(TermQuery(term="popcorn"),))
        want = oracle.classic_mixed_boolean_scores(
            oracle_index, must=[("phrase", list(pair), slop)], should=["popcorn"]
        )
    else:
        q = BooleanQuery(
            should=(TermQuery(term="popcorn"), pq),
            must_not=(TermQuery(term="common9"),),
        )
        want = oracle.classic_mixed_boolean_scores(
            oracle_index, should=["popcorn", ("phrase", list(pair), slop)],
            must_not=["common9"],
        )
    got = hits(s.search(q, 15))
    assert got == oracle.top_k(want, 15), shape
    assert got


@pytest.mark.parametrize("sim", ["classic", "lmd", "dfr_gb2"])
def test_dismax_under_sims(spark, index_dir, oracle_index, sim, pair):
    """DisjunctionMaxQuery under non-BM25 sims: classic couples the clause
    weights through the shared queryNorm; SimilarityBase members compose
    independently; fold = f32(max + tie*(sum - max))."""
    from lucenenet_spark.plans.query import DisMaxQuery, PhraseQuery, TermQuery

    s = IndexSearcher(spark, index_dir, similarity=sim)
    q = DisMaxQuery(
        queries=(TermQuery(term="popcorn"), PhraseQuery(terms=pair)),
        tie_breaker=0.3,
    )
    specs = ["popcorn", ("phrase", list(pair), 0)]
    if sim == "classic":
        want = oracle.classic_dismax_scores(oracle_index, specs, 0.3)
    else:
        want = oracle.sim_dismax_scores(oracle_index, sim, specs, 0.3)
    got = hits(s.search(q, 15))
    assert got == oracle.top_k(want, 15), sim
    assert got
