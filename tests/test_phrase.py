"""PhraseQuery (exact + sloppy) and keyword-field parity vs the oracle.

Mirrors TestPhraseQuery-style fixtures plus randomized corpus parity:
engine results must be rank- AND float32-score-identical to oracle.py's
port of ExactPhraseScorer / SloppyPhraseScorer semantics.
"""
import numpy as np
import pytest

from lucenenet_spark import oracle
from lucenenet_spark.plans.parser import parse
from lucenenet_spark.plans.query import BooleanQuery, PhraseQuery, TermQuery

from .conftest import hits, phrase_pairs


# -- oracle-level fixture sanity (hand-checkable positions) ------------------


def test_oracle_positions_count_gaps():
    idx = oracle.build_index(["the quick brown fox", "quick the fox"])
    # stopword "the" occupies position slots
    assert idx.positions["quick"][0] == [1]
    assert idx.positions["fox"][0] == [3]
    assert idx.positions["quick"][1] == [0]
    assert idx.positions["fox"][1] == [2]


def test_oracle_exact_phrase_fixture():
    texts = [
        "one two three",
        "one three two",
        "one two one two",
        "two one",
        "one two three one two three",
    ]
    idx = oracle.build_index(texts)
    sc = oracle.phrase_scores(idx, ["one", "two"])
    assert set(sc) == {0, 2, 4}
    # doc 2 has freq 2, doc 4 freq 2 (one two at 0-1 and 3-4)
    assert oracle.exact_phrase_freq(idx, ["one", "two"], [0, 1], 2) == 2
    assert oracle.exact_phrase_freq(idx, ["one", "two"], [0, 1], 4) == 2


def test_oracle_sloppy_matches_exact_at_slop0_shape():
    texts = ["alpha beta gamma", "alpha gamma beta", "beta alpha"]
    idx = oracle.build_index(texts)
    ex = oracle.phrase_scores(idx, ["alpha", "beta"], slop=0)
    sl = oracle.phrase_scores(idx, ["alpha", "beta"], slop=2)
    assert set(ex) == {0}
    # slop 2 admits transposed/near orders with discounted freq
    assert set(sl) == {0, 1, 2}
    assert float(sl[1]) < float(sl[0])


# -- engine vs oracle --------------------------------------------------------


def test_exact_phrase_parity(searcher, oracle_index, corpus_pdf):
    for t1, t2 in phrase_pairs(corpus_pdf, oracle_index, 3):
        q = PhraseQuery(terms=(t1, t2))
        want = oracle.top_k(oracle.phrase_scores(oracle_index, [t1, t2]), 10)
        got = hits(searcher.search(q, 10))
        assert got == want, (t1, t2)


def test_sloppy_phrase_parity(searcher, oracle_index, corpus_pdf):
    for t1, t2 in phrase_pairs(corpus_pdf, oracle_index, 3):
        for slop in (1, 3):
            q = PhraseQuery(terms=(t1, t2), slop=slop)
            want = oracle.top_k(
                oracle.phrase_scores(oracle_index, [t1, t2], slop=slop), 10
            )
            got = hits(searcher.search(q, 10))
            assert got == want, (t1, t2, slop)


def test_phrase_with_query_gap(searcher, oracle_index, corpus_pdf):
    # a stopword inside the quoted phrase leaves a position gap in the query
    (t1, t2), *_ = phrase_pairs(corpus_pdf, oracle_index, 3)
    q = parse(f'"{t1} the {t2}"')
    assert isinstance(q, PhraseQuery) and q.positions == (0, 2)
    want = oracle.top_k(
        oracle.phrase_scores(oracle_index, [t1, t2], offsets=[0, 2]), 10
    )
    got = hits(searcher.search(q, 10))
    assert got == want


def test_phrase_in_boolean(searcher, oracle_index, corpus_pdf):
    (t1, t2), *_ = phrase_pairs(corpus_pdf, oracle_index, 3)
    q = BooleanQuery(
        should=(PhraseQuery(terms=(t1, t2)), TermQuery(term="popcorn"))
    )
    ph = oracle.phrase_scores(oracle_index, [t1, t2])
    tm = oracle.term_scores(oracle_index, "popcorn")
    want_scores = {}
    for d in set(ph) | set(tm):
        s = np.float32(0.0)
        s = np.float32(s + ph.get(d, np.float32(0.0)))
        s = np.float32(s + tm.get(d, np.float32(0.0)))
        want_scores[d] = s
    want = oracle.top_k(want_scores, 10)
    got = hits(searcher.search(q, 10, prune=False))
    assert got == want


def test_single_term_phrase_rewrites(searcher, oracle_index):
    got = hits(searcher.search(PhraseQuery(terms=("popcorn",)), 10))
    want = oracle.top_k(oracle.term_scores(oracle_index, "popcorn"), 10)
    assert got == want


def test_parser_phrase_forms():
    q = parse('"hello world"~2')
    assert isinstance(q, PhraseQuery) and q.slop == 2
    assert parse('"the of"') == BooleanQuery()  # all-stopword phrase: no clause


# -- the positions kernel under the conjunction prune ----------------------


def test_phrase_bulk_gather_parity(spark, index_dir, oracle_index, corpus_pdf):
    """Every phrase scores through the positions kernel; with every
    adaptive threshold dropped (prune_min_postings=0) a rare slot's
    conjunction prune cuts the blocks first. Both searchers must be
    bit-identical to the oracle, exact and sloppy, incl. multi-phrase
    slots."""
    from lucenenet_spark.operators.search import IndexSearcher
    from lucenenet_spark.plans.query import MultiPhraseQuery

    default = IndexSearcher(spark, index_dir)
    pruned = IndexSearcher(spark, index_dir, prune_min_postings=0)
    (t1, t2), (t3, t4), *_ = phrase_pairs(corpus_pdf, oracle_index, 3)
    for slop in (0, 2):
        q = PhraseQuery(terms=(t1, t2), slop=slop)
        want = oracle.top_k(
            oracle.phrase_scores(oracle_index, [t1, t2], slop=slop), 10
        )
        assert hits(default.search(q, 10)) == want, ("default", slop)
        assert hits(pruned.search(q, 10)) == want, ("pruned", slop)
        arrays = [[t1, t3] if t1 != t3 else [t1], [t2, t4] if t2 != t4 else [t2]]
        mq = MultiPhraseQuery(
            term_arrays=tuple(tuple(a) for a in arrays), slop=slop
        )
        mwant = oracle.top_k(
            oracle.multi_phrase_scores(oracle_index, arrays, slop=slop), 10
        )
        assert hits(default.search(mq, 10)) == mwant, ("default-multi", slop)
        assert hits(pruned.search(mq, 10)) == mwant, ("pruned-multi", slop)


def test_phrase_longer_than_63_slots(searcher, oracle_index, corpus_pdf):
    """A phrase of more than 63 slots (the old per-slot uint64 bitmask's
    limit): the first 70 words of the longest turn, parsed so the slot
    positions keep the analyzer's stopword gaps."""
    from lucenenet_spark.functions.analysis import tokenize_text

    longest = max(corpus_pdf["text"], key=lambda t: len(tokenize_text(t)))
    q = parse('"' + " ".join(longest.split()[:70]) + '"')
    assert isinstance(q, PhraseQuery) and len(q.terms) > 63
    for slop in (0, 2):
        want = oracle.top_k(
            oracle.phrase_scores(
                oracle_index, list(q.terms), offsets=list(q.offsets), slop=slop
            ),
            10,
        )
        got = hits(searcher.search(PhraseQuery(
            terms=q.terms, positions=q.positions, slop=slop
        ), 10))
        assert got == want and got, slop


# -- MultiPhraseQuery (Search/MultiPhraseQuery.cs) ---------------------------


def test_multi_phrase_exact_parity(searcher, oracle_index, corpus_pdf):
    from lucenenet_spark.plans.query import MultiPhraseQuery

    (a1, b1), (a2, b2), *_ = phrase_pairs(corpus_pdf, oracle_index, 3)
    arrays = [[a1, a2] if a1 != a2 else [a1], [b1, b2] if b1 != b2 else [b1]]
    q = MultiPhraseQuery(term_arrays=tuple(tuple(a) for a in arrays))
    want = oracle.top_k(oracle.multi_phrase_scores(oracle_index, arrays), 10)
    got = hits(searcher.search(q, 10))
    assert got == want and len(got) > 0


def test_multi_phrase_sloppy_parity(searcher, oracle_index, corpus_pdf):
    from lucenenet_spark.plans.query import MultiPhraseQuery

    (a1, b1), (a2, b2), *_ = phrase_pairs(corpus_pdf, oracle_index, 3)
    arrays = [[a1, a2] if a1 != a2 else [a1], [b1, b2] if b1 != b2 else [b1]]
    for slop in (1, 3):
        q = MultiPhraseQuery(
            term_arrays=tuple(tuple(a) for a in arrays), slop=slop
        )
        want = oracle.top_k(
            oracle.multi_phrase_scores(oracle_index, arrays, slop=slop), 10
        )
        got = hits(searcher.search(q, 10))
        assert got == want, slop


def test_multi_phrase_absent_alternative(searcher, oracle_index, corpus_pdf):
    """An absent alternative changes the WEIGHT (df=0 idf still folds in,
    MultiPhraseWeight allTermStats) but not the match set."""
    from lucenenet_spark.plans.query import MultiPhraseQuery

    (t1, t2), *_ = phrase_pairs(corpus_pdf, oracle_index, 3)
    arrays = [[t1, "zzz_absent_term"], [t2]]
    q = MultiPhraseQuery(term_arrays=(tuple(arrays[0]), (t2,)))
    want = oracle.top_k(oracle.multi_phrase_scores(oracle_index, arrays), 10)
    got = hits(searcher.search(q, 10))
    assert got == want and len(got) > 0
    # and a slot whose EVERY alternative is absent matches nothing
    q0 = MultiPhraseQuery(term_arrays=(("zzz_absent_term",), (t2,)))
    assert searcher.search(q0, 10).count() == 0


def test_multi_phrase_rewrites(searcher, oracle_index, corpus_pdf):
    from lucenenet_spark.plans.query import MultiPhraseQuery

    (t1, t2), *_ = phrase_pairs(corpus_pdf, oracle_index, 3)
    # all-singleton slots == plain PhraseQuery
    q = MultiPhraseQuery(term_arrays=((t1,), (t2,)))
    assert hits(searcher.search(q, 10)) == hits(
        searcher.search(PhraseQuery(terms=(t1, t2)), 10)
    )
    # single slot == BooleanQuery of SHOULD terms
    q1 = MultiPhraseQuery(term_arrays=((t1, "popcorn"),))
    b = BooleanQuery(should=(TermQuery(term=t1), TermQuery(term="popcorn")))
    assert hits(searcher.search(q1, 10, prune=False)) == hits(
        searcher.search(b, 10, prune=False)
    )


def test_parser_multi_phrase(corpus_pdf):
    from lucenenet_spark.plans.query import MultiPhraseQuery

    q = parse('"(alpha|beta) gamma"~2')
    assert isinstance(q, MultiPhraseQuery)
    assert q.term_arrays == (("alpha", "beta"), ("gamma",))
    assert q.positions == (0, 1) and q.slop == 2
    # stopword spec leaves a position gap; stopword alternative drops
    q2 = parse('"(alpha|the) of gamma"')
    assert q2.term_arrays == (("alpha",), ("gamma",))
    assert q2.positions == (0, 2)


# -- keyword fields ----------------------------------------------------------


@pytest.fixture(scope="session")
def oracle_index_kw(corpus_pdf):
    return oracle.build_index(
        corpus_pdf["text"].tolist(),
        keyword_docs={
            "role": corpus_pdf["role"].tolist(),
            "tool": corpus_pdf["tool"].tolist(),
        },
    )


def test_keyword_field_term_parity(searcher, oracle_index_kw):
    for field, value in [("role", "user"), ("role", "tool"), ("tool", "python")]:
        q = TermQuery(term=value, field=field)
        want = oracle.top_k(
            oracle.kw_term_scores(oracle_index_kw, field, value), 10
        )
        got = hits(searcher.search(q, 10))
        assert got == want, (field, value)


def test_cross_field_boolean_parity(searcher, oracle_index_kw):
    q = BooleanQuery(
        must=(TermQuery(term="popcorn"),),
        should=(TermQuery(term="user", field="role"),),
    )
    text = oracle.term_scores(oracle_index_kw, "popcorn")
    role = oracle.kw_term_scores(oracle_index_kw, "role", "user")
    want_scores = {}
    for d in text:
        s = np.float32(0.0)
        s = np.float32(s + text[d])
        s = np.float32(s + role.get(d, np.float32(0.0)))
        want_scores[d] = s
    want = oracle.top_k(want_scores, 10)
    got = hits(searcher.search(q, 10, prune=False))
    assert got == want


def test_keyword_absent_value(searcher):
    assert searcher.search(TermQuery(term="nope-xyz", field="role"), 5).count() == 0


# -- multi-valued keyword fields (round 5) ------------------------------------
# array<string> columns index as SortedSet-style multi-valued StringFields
# (Lucene.Net.Join/JoinUtil.cs multi-value shape): each DISTINCT value one
# DOCS-level posting per doc — duplicate values in one array collapse, and
# a value is scored identically whether it came from a scalar or an array.


@pytest.fixture(scope="session")
def index_dir_mkw(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from lucenenet_spark.datagen import transcripts_spark
    from lucenenet_spark.operators.index_build import IndexBuilder

    out = str(tmp_path_factory.mktemp("idx_mkw") / "main")
    # labels = [role, tool, role]: the dup role forces the per-doc dedupe
    df = transcripts_spark(spark, 500, partitions=4).withColumn(
        "labels", F.array_compact(F.array("role", "tool", "role"))
    )
    IndexBuilder(
        spark, out, n_buckets=8, n_segments=8, salt_target=60,
        keyword_fields=("role", "tool", "labels"),
    ).build(df)
    return out


@pytest.fixture(scope="session")
def oracle_index_mkw(corpus_pdf):
    labels = [
        [r, t, r] for r, t in zip(corpus_pdf["role"], corpus_pdf["tool"])
    ]
    return oracle.build_index(
        corpus_pdf["text"].tolist(),
        keyword_docs={"role": corpus_pdf["role"].tolist(), "labels": labels},
    )


def test_multivalued_keyword_parity(spark, index_dir_mkw, oracle_index_mkw):
    from lucenenet_spark.operators.search import IndexSearcher

    s = IndexSearcher(spark, index_dir_mkw)
    # values from the role slot (duplicated in-array), the tool slot, and one
    # present in both slots across different docs
    for value in ["user", "assistant", "tool", "python"]:
        want = oracle.top_k(
            oracle.kw_term_scores(oracle_index_mkw, "labels", value), 10
        )
        got = hits(s.search(TermQuery(term=value, field="labels"), 10))
        assert got == want, value
    # dup collapse: df(labels:user) == df(role:user) — one posting per doc
    meta = s.term_meta([("labels", "user"), ("role", "user")])
    assert meta[("labels", "user")][0] == meta[("role", "user")][0]
    assert s.search(TermQuery(term="nope-xyz", field="labels"), 5).count() == 0
