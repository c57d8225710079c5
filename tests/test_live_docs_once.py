"""liveDocs are masked once per query: nested clauses and MUST_NOT clauses
are scored unmasked and only the top-level scores() applies the delete set
(acceptDocs, SegmentReader.cs:100). Deleted docs still count in the stats
until merged away, so masking once cannot change a live doc's score.
"""
import re
import shutil

import pytest

from lucenenet_spark import oracle
from lucenenet_spark.operators import spans
from lucenenet_spark.operators.search import IndexSearcher
from lucenenet_spark.plans.parser import parse
from lucenenet_spark.plans.query import BooleanQuery, PhraseQuery, TermQuery

from .conftest import count_jobs, hits, phrase_pairs

# asserts Spark plans or job counts: run the Spark runner
pytestmark = pytest.mark.usefixtures("spark_runner")

NESTED_Q = BooleanQuery(
    should=(
        BooleanQuery(must=(TermQuery(term="popcorn"), TermQuery(term="common3"))),
        BooleanQuery(should=(TermQuery(term="word7"), TermQuery(term="hello"))),
    ),
    must_not=(PhraseQuery(terms=("common9", "common9")),),
)


def test_nested_boolean_masks_deletes_once(spark, index_dir, tmp_path):
    k = 40
    want_all = hits(IndexSearcher(spark, index_dir).search(NESTED_Q, 10**6))
    dead = {d for d, _ in want_all[:k:7]}  # a few of the top hits
    d = str(tmp_path / "nested_del")
    shutil.copytree(index_dir, d)
    IndexSearcher(spark, d).delete_docids(spark.createDataFrame(
        [(i,) for i in sorted(dead)], "docid long"
    ))
    s = IndexSearcher(spark, d)
    s.term_meta(["popcorn", "common3", "word7", "hello", "common9"])  # warm stats
    with count_jobs(spark) as jobs:
        df = s.search(NESTED_Q, k)
        got = hits(df)
    assert got == [(doc, sc) for doc, sc in want_all if doc not in dead][:k]
    # one delete-set anti-join in the plan, however deep the nesting; the
    # job count cannot show it (adaptive execution reuses an identical
    # broadcast), so it only must not exceed the 7 jobs of a mask per clause
    assert _initial_plan(df).count("LeftAnti") == 1
    assert jobs["jobs"] <= 7, jobs


def test_banned_phrase_is_matched_not_scored(spark, index_dir, oracle_index, corpus_pdf):
    """A MUST_NOT phrase only bans: the positions kernel emits its docids
    and nothing scores it, so the plan has no scoring pass of its own (one
    mapInPandas fewer than scoring it as a one-clause boolean)."""
    # the adjacent pair found in the most docs, so the ban removes several
    [(t1, t2)] = phrase_pairs(corpus_pdf, oracle_index)
    q = parse(f'+{t1} -"{t1} {t2}"')
    assert isinstance(q.must_not[0], PhraseQuery)
    df = IndexSearcher(spark, index_dir).search(q, 20)
    want = oracle.top_k(
        oracle.sim_mixed_boolean_scores(
            oracle_index, "bm25", must=[t1], must_not=[("phrase", [t1, t2], 0)]
        ),
        20,
    )
    assert want and hits(df) == want
    assert len(want) < len(oracle.term_scores(oracle_index, t1))
    # term slicer, phrase slicer, phrase match (docids only), ban slicer,
    # reducer
    assert _initial_plan(df).count("MapInPandas") == 5


def test_banned_span_is_matched_not_scored(spark, index_dir, oracle_index, corpus_pdf):
    """A MUST_NOT span only bans, like a banned phrase: the positions
    kernel's reducer emits the span's docids and no score column."""
    [(t1, t2)] = phrase_pairs(corpus_pdf, oracle_index)
    span = spans.SpanNearQuery(
        clauses=(spans.SpanTermQuery(term=t1), spans.SpanTermQuery(term=t2))
    )
    q = BooleanQuery(must=(TermQuery(term=t1),), must_not=(span,))
    df = IndexSearcher(spark, index_dir).search(q, 20)
    banned = spans.span_scores_oracle(oracle_index, span)
    want = oracle.top_k(
        {
            d: sc
            for d, sc in oracle.sim_mixed_boolean_scores(
                oracle_index, "bm25", must=[t1]
            ).items()
            if d not in banned
        },
        20,
    )
    assert banned and want and hits(df) == want
    # the one reducer over position rows (its input carries the leaf
    # column) outputs the docid column alone
    outs = re.findall(
        r"MapInPandas \w+\(rid#\d+L, leaf#\d+, [^)]*\)[^,]*, \[([^\]]*)\]",
        _initial_plan(df),
    )
    assert len(outs) == 1 and re.fullmatch(r"docid#\d+L", outs[0]), outs


def _initial_plan(df) -> str:
    """The physical plan as planned, before adaptive re-planning."""
    return df._jdf.queryExecution().executedPlan().inputPlan().toString()
