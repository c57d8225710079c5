"""The range reducer (every boolean and DisMax combines its clauses there):
parity across searcher settings, reducer range sizes and the oracle.

Results must be bit-identical between a searcher forced onto every
adaptive path (prune_min_postings=0), the default searcher and the oracle
— clause-ordered float32 accumulation, identical masks, identical
tie-breaks, coord where the similarity has one — for every boolean shape,
phrase SHOULD and MUST_NOT clauses, plus deletes masking, under every
similarity family and with ranges small enough to cut the corpus.
"""
import shutil

import pytest

from lucenenet_spark import oracle
from lucenenet_spark.operators.search import IndexSearcher
from lucenenet_spark.plans.query import (
    BooleanQuery,
    DisMaxQuery,
    PhraseQuery,
    TermQuery,
)

from .conftest import hits, phrase_pairs

SIMS = ["bm25", "classic", "sweetspot:1.5:2", "lmd", "lmjm", "dfr_gb2", "ib_spl"]


def _tf_params(sim):
    """SweetSpot's (tf_base, tf_min) for the oracle's BaselineTf."""
    return tuple(float(x) for x in sim.split(":")[1:]) if sim.startswith("sweetspot") else None


@pytest.fixture()
def sim():
    """The module's tests run under BM25; TestEverySimilarity below re-runs
    the term-clause ones under every other family."""
    return SIMS[0]


@pytest.fixture()
def bulk_range():
    """Docids per reducer range; None keeps IndexSearcher.BULK_RANGE.
    TestSmallRanges below re-runs the tests with ranges of 64 docids."""
    return None


def _forced(spark, d, sim, bulk_range):
    # prune_min_postings=0 drops every adaptive volume threshold
    s = IndexSearcher(spark, d, prune_min_postings=0, similarity=sim)
    if bulk_range is not None:
        s.BULK_RANGE = bulk_range
    return s


@pytest.fixture(scope="module")
def searchers():
    """The module's searchers over the shared index, one per setting, so
    each loads a term's stats once for all its tests (a test that deletes
    docs builds its own over a copy)."""
    return {}


@pytest.fixture()
def bulk_searcher(spark, index_dir, sim, bulk_range, searchers):
    key = ("forced", sim, bulk_range)
    if key not in searchers:
        searchers[key] = _forced(spark, index_dir, sim, bulk_range)
    return searchers[key]


@pytest.fixture()
def rel_searcher(spark, index_dir, sim, searchers):
    # the default thresholds: no conjunction skip or WAND on this corpus
    if sim not in searchers:
        searchers[sim] = IndexSearcher(spark, index_dir, similarity=sim)
    return searchers[sim]


def _oracle_scores(oidx, sim, must=(), should=(), must_not=(), min_should_match=0):
    if sim == "bm25" and all(isinstance(c, str) for c in (*must, *should, *must_not)):
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
    """The forced searcher matches the default searcher and the oracle bit
    for bit."""
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


def _delete_hello(spark, index_dir, oracle_index, tmp_path, sim):
    """A copy of the index with every doc holding 'hello' deleted, and the
    deleted docids."""
    d = str(tmp_path / "bulkdel")
    shutil.copytree(index_dir, d)
    IndexSearcher(spark, d, similarity=sim).delete_by_term("hello")
    return d, {doc for doc, _ in oracle_index.postings["hello"]}


def test_bulk_respects_deletes(spark, index_dir, oracle_index, tmp_path, sim, bulk_range):
    d, hello_docs = _delete_hello(spark, index_dir, oracle_index, tmp_path, sim)
    q = BooleanQuery(should=(TermQuery(term="popcorn"), TermQuery(term="word7")))
    want = [
        (doc, sc)
        for doc, sc in _oracle(oracle_index, sim, k=10**6, should=["popcorn", "word7"])
        if doc not in hello_docs
    ][:30]
    _check(
        _forced(spark, d, sim, bulk_range), IndexSearcher(spark, d, similarity=sim),
        q, 30, want,
    )


@pytest.fixture(scope="module")
def pair(corpus_pdf, oracle_index):
    """The adjacent-token pair held by the most docs (at least 3)."""
    return phrase_pairs(corpus_pdf, oracle_index)[0]


def _check_phrase_boolean(
    spark, index_dir, oracle_index, tmp_path, sim, bulk_range, deletes, shared,
    q, **kw
):
    """q on the shared (forced, default) searchers, or with deletes on
    fresh ones over a copy of the index."""
    searchers, dead = shared, set()
    if deletes:
        d, dead = _delete_hello(spark, index_dir, oracle_index, tmp_path, sim)
        searchers = (
            _forced(spark, d, sim, bulk_range), IndexSearcher(spark, d, similarity=sim)
        )
    want = [
        (doc, sc) for doc, sc in _oracle(oracle_index, sim, k=10**6, **kw)
        if doc not in dead
    ][:20]
    assert want
    _check(*searchers, q, 20, want)


@pytest.mark.parametrize("deletes", [False, True])
def test_bulk_phrase_should(
    spark, index_dir, oracle_index, tmp_path, sim, bulk_range, pair, deletes,
    bulk_searcher, rel_searcher,
):
    q = BooleanQuery(should=(TermQuery(term="popcorn"), PhraseQuery(terms=pair)))
    _check_phrase_boolean(
        spark, index_dir, oracle_index, tmp_path, sim, bulk_range, deletes,
        (bulk_searcher, rel_searcher), q,
        should=["popcorn", ("phrase", list(pair), 0)],
    )


@pytest.mark.parametrize("deletes", [False, True])
def test_bulk_phrase_must_not(
    spark, index_dir, oracle_index, tmp_path, sim, bulk_range, pair, deletes,
    bulk_searcher, rel_searcher,
):
    # the pair's first term as a SHOULD clause: the banned phrase then
    # removes docs that would otherwise match
    q = BooleanQuery(
        should=(TermQuery(term="popcorn"), TermQuery(term=pair[0])),
        must_not=(PhraseQuery(terms=pair),),
    )
    _check_phrase_boolean(
        spark, index_dir, oracle_index, tmp_path, sim, bulk_range, deletes,
        (bulk_searcher, rel_searcher), q,
        should=["popcorn", pair[0]], must_not=[("phrase", list(pair), 0)],
    )


class TestEverySimilarity:
    """The term-clause tests above, parametrised over the other similarity
    families."""

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


class TestSmallRanges(TestEverySimilarity):
    """Every test above, phrase clauses included, with 64-docid reducer
    ranges, so the 500-doc corpus spans 8 ranges and every clause crosses
    range boundaries (the default range holds the whole corpus); under BM25
    and, for coord and queryNorm, TF-IDF."""

    @pytest.fixture(params=SIMS[:2])
    def sim(self, request):
        return request.param

    @pytest.fixture()
    def bulk_range(self):
        return 64

    test_bulk_phrase_should = staticmethod(test_bulk_phrase_should)
    test_bulk_phrase_must_not = staticmethod(test_bulk_phrase_must_not)
