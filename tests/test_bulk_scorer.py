"""Bulk DAAT scorer (range-bucketed dense accumulators): forced-on parity.

The bulk path must be bit-identical to the pivot path and the oracle —
clause-ordered float32 accumulation, identical masks, identical tie-breaks,
coord where the similarity has one — for every boolean shape, plus deletes
masking, under every similarity family.
"""
import shutil

import pytest

from lucenenet_spark import oracle
from lucenenet_spark.operators.search import IndexSearcher
from lucenenet_spark.plans.query import BooleanQuery, DisMaxQuery, TermQuery

from .conftest import hits

SIMS = ["bm25", "classic", "sweetspot:1.5:2", "lmd", "lmjm", "dfr_gb2", "ib_spl"]


def _tf_params(sim):
    """SweetSpot's (tf_base, tf_min) for the oracle's BaselineTf."""
    return tuple(float(x) for x in sim.split(":")[1:]) if sim.startswith("sweetspot") else None


@pytest.fixture()
def sim():
    """The module's tests run under BM25; TestEverySimilarity below re-runs
    each of them under every other family."""
    return SIMS[0]


@pytest.fixture()
def bulk_searcher(spark, index_dir, sim):
    # prune_min_postings=0 drops the volume threshold -> bulk always engages
    return IndexSearcher(spark, index_dir, prune_min_postings=0, similarity=sim)


@pytest.fixture()
def rel_searcher(spark, index_dir, sim):
    # the default thresholds keep this corpus on the relational path
    return IndexSearcher(spark, index_dir, similarity=sim)


def _oracle_scores(oidx, sim, must=(), should=(), must_not=(), min_should_match=0):
    if sim == "bm25":
        return oracle.boolean_scores(
            oidx, must=must, should=should, must_not=must_not,
            min_should_match=min_should_match,
        )
    if sim == "classic" or sim.startswith("sweetspot"):
        return oracle.classic_mixed_boolean_scores(
            oidx, must=must, should=should, must_not=must_not,
            min_should_match=min_should_match, tf_params=_tf_params(sim),
        )
    return oracle.sim_mixed_boolean_scores(
        oidx, sim, must=must, should=should, must_not=must_not,
        min_should_match=min_should_match,
    )


def _oracle(oidx, sim, k=20, **kw):
    return oracle.top_k(_oracle_scores(oidx, sim, **kw), k)


def _check(bulk, rel, q, k, want, prune=True):
    """The forced bulk path engages and matches the relational path and
    the oracle bit for bit."""
    assert bulk._try_bulk_topk(q, k, prune) is not None
    got = hits(bulk.search(q, k, prune=prune))
    assert got == hits(rel.search(q, k, prune=prune))
    assert got == want


def test_bulk_or(bulk_searcher, rel_searcher, oracle_index, sim):
    q = BooleanQuery(
        should=(TermQuery(term="popcorn"), TermQuery(term="word7"), TermQuery(term="common3"))
    )
    _check(bulk_searcher, rel_searcher, q, 20, _oracle(
        oracle_index, sim, should=["popcorn", "word7", "common3"]
    ))


def test_bulk_and(bulk_searcher, rel_searcher, oracle_index, sim):
    q = BooleanQuery(must=(TermQuery(term="popcorn"), TermQuery(term="common3")))
    _check(bulk_searcher, rel_searcher, q, 20, _oracle(
        oracle_index, sim, must=["popcorn", "common3"]
    ))


def test_bulk_mixed_not(bulk_searcher, rel_searcher, oracle_index, sim):
    q = BooleanQuery(
        must=(TermQuery(term="popcorn"),),
        should=(TermQuery(term="word7"),),
        must_not=(TermQuery(term="common3"),),
    )
    _check(bulk_searcher, rel_searcher, q, 20, _oracle(
        oracle_index, sim, must=["popcorn"], should=["word7"], must_not=["common3"]
    ))


@pytest.mark.parametrize("msm", [2, 3])
def test_bulk_msm(bulk_searcher, rel_searcher, oracle_index, sim, msm):
    terms = ["popcorn", "word7", "common3", "hello"]
    q = BooleanQuery(
        should=tuple(TermQuery(term=t) for t in terms), min_should_match=msm
    )
    _check(bulk_searcher, rel_searcher, q, 20, _oracle(
        oracle_index, sim, should=terms, min_should_match=msm
    ), prune=False)


@pytest.mark.parametrize("tie", [0.0, 0.3])
def test_bulk_dismax(bulk_searcher, rel_searcher, oracle_index, sim, tie):
    terms = ["popcorn", "word7"]
    q = DisMaxQuery(queries=tuple(TermQuery(term=t) for t in terms), tie_breaker=tie)
    if sim == "bm25":
        want = oracle.dismax_scores(oracle_index, terms, tie)
    elif sim == "classic" or sim.startswith("sweetspot"):
        want = oracle.classic_dismax_scores(
            oracle_index, terms, tie, tf_params=_tf_params(sim)
        )
    else:
        want = oracle.sim_dismax_scores(oracle_index, sim, terms, tie)
    _check(bulk_searcher, rel_searcher, q, 15, oracle.top_k(want, 15))


def test_bulk_large_k_exceeds_range_topk(bulk_searcher, rel_searcher, oracle_index, sim):
    """k larger than any per-range candidate count: full result set ordering."""
    q = BooleanQuery(should=(TermQuery(term="popcorn"), TermQuery(term="word7")))
    _check(bulk_searcher, rel_searcher, q, 500, _oracle(
        oracle_index, sim, k=500, should=["popcorn", "word7"]
    ))


def test_bulk_respects_deletes(spark, index_dir, oracle_index, tmp_path, sim):
    d = str(tmp_path / "bulkdel")
    shutil.copytree(index_dir, d)
    s = IndexSearcher(spark, d, prune_min_postings=0, similarity=sim)
    s.delete_by_term("hello")
    s2 = IndexSearcher(spark, d, prune_min_postings=0, similarity=sim)
    hello_docs = {doc for doc, _ in oracle_index.postings["hello"]}
    q = BooleanQuery(should=(TermQuery(term="popcorn"), TermQuery(term="word7")))
    want = [
        (doc, sc)
        for doc, sc in _oracle(oracle_index, sim, k=10**6, should=["popcorn", "word7"])
        if doc not in hello_docs
    ][:30]
    _check(s2, IndexSearcher(spark, d, similarity=sim), q, 30, want)


class TestEverySimilarity:
    """The tests above, parametrised over the other similarity families."""

    @pytest.fixture(params=SIMS[1:])
    def sim(self, request):
        return request.param

    test_bulk_or = staticmethod(test_bulk_or)
    test_bulk_and = staticmethod(test_bulk_and)
    test_bulk_mixed_not = staticmethod(test_bulk_mixed_not)
    test_bulk_msm = staticmethod(test_bulk_msm)
    test_bulk_dismax = staticmethod(test_bulk_dismax)
    test_bulk_large_k_exceeds_range_topk = staticmethod(
        test_bulk_large_k_exceeds_range_topk
    )
    test_bulk_respects_deletes = staticmethod(test_bulk_respects_deletes)
