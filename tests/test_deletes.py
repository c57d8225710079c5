"""Deletes (liveDocs) + merge-time apply with DocMap renumbering, and
FilteredQuery doc-side predicates.

Lucene semantics under test:
- deleted docs never match, but stats still count them until merged away
  (SegmentReader acceptDocs; stats note in SURVEY §3.1) -> scores of the
  surviving docs are UNCHANGED by a delete.
- compaction drops deleted docs, renumbers docids densely (MergeState
  DocMap), and shrinks stats -> the compacted index must match the oracle
  built over only the live corpus, exactly.
"""
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucenenet_spark import oracle
from lucenenet_spark.operators.merge import merge_segments
from lucenenet_spark.operators.search import IndexSearcher
from lucenenet_spark.plans.query import BooleanQuery, FilteredQuery, TermQuery
from lucenenet_spark.validate import check_index

from .conftest import hits

# merges here run in-process; test_build_paths re-runs the delete-merge on Spark
pytestmark = pytest.mark.usefixtures("in_process_path")


@pytest.fixture()
def del_index(spark, index_dir, tmp_path):
    """A throwaway copy of the session index to delete from (manifest paths
    still point at the original read-only tables; the delete log lives in
    the copy)."""
    d = str(tmp_path / "delidx")
    shutil.copytree(index_dir, d)
    return d


def test_delete_by_term_masks_matches(spark, del_index, oracle_index):
    s = IndexSearcher(spark, del_index)
    n_before = s.count(TermQuery(term="popcorn"))
    s.delete_by_term("hello")
    s2 = IndexSearcher(spark, del_index)
    assert s2.count(TermQuery(term="hello")) == 0
    # other docs unaffected, and their scores are UNCHANGED (stats still
    # count the deleted docs until merge — Lucene's exact behavior)
    hello_docs = {d for d, _ in oracle_index.postings["hello"]}
    want = [
        (d, sc)
        for d, sc in oracle.top_k(oracle.term_scores(oracle_index, "popcorn"), 50)
        if d not in hello_docs
    ]
    got = hits(s2.search(TermQuery(term="popcorn"), len(want)))
    assert got == want[: len(got)] and len(got) == min(len(want), n_before)


def test_delete_docids_direct(spark, del_index):
    s = IndexSearcher(spark, del_index)
    top = hits(s.search(TermQuery(term="popcorn"), 3))
    ids = [d for d, _ in top]
    s.delete_docids(spark.createDataFrame([(i,) for i in ids], "docid long"))
    got = hits(IndexSearcher(spark, del_index).search(TermQuery(term="popcorn"), 3))
    assert not set(d for d, _ in got) & set(ids)


def test_merge_applies_deletes_with_renumbering(
    spark, del_index, corpus_pdf, tmp_path
):
    s = IndexSearcher(spark, del_index)
    s.delete_by_term("hello")
    deleted = {r["docid"] for r in s._deleted_docids().collect()}
    assert deleted

    out = str(tmp_path / "compacted")
    merge_segments(spark, [del_index], out, n_buckets=4, build_id="del-merge")
    m = IndexSearcher(spark, out)

    # oracle over ONLY the live corpus with dense renumbered ids
    live_texts = [
        t for i, t in enumerate(corpus_pdf["text"].tolist()) if i not in deleted
    ]
    live_oracle = oracle.build_index(live_texts)
    assert m.max_doc == len(live_texts)
    assert m.avgdl == live_oracle.avgdl
    for term in ["popcorn", "word7", "common3"]:
        got = hits(m.search(TermQuery(term=term), 20))
        want = oracle.top_k(oracle.term_scores(live_oracle, term), 20)
        assert got == want, term
    assert m.count(TermQuery(term="hello")) == 0
    report = check_index(spark, out)
    assert report["ok"], report


def test_filtered_query_by_role(searcher, oracle_index, corpus_pdf):
    q = FilteredQuery(query=TermQuery(term="popcorn"), where="role = 'user'")
    got = hits(searcher.search(q, 50))
    user_docs = {
        i for i, r in enumerate(corpus_pdf["role"].tolist()) if r == "user"
    }
    want = [
        (d, sc)
        for d, sc in oracle.top_k(oracle.term_scores(oracle_index, "popcorn"), 10**6)
        if d in user_docs
    ][:50]
    assert got == want


def test_filtered_query_numeric_range(searcher, oracle_index):
    q = FilteredQuery(
        query=TermQuery(term="popcorn"), where="field_length BETWEEN 5 AND 40"
    )
    got = hits(searcher.search(q, 30))
    ok_docs = {
        i for i, n in enumerate(oracle_index.field_lengths) if 5 <= n <= 40
    }
    want = [
        (d, sc)
        for d, sc in oracle.top_k(oracle.term_scores(oracle_index, "popcorn"), 10**6)
        if d in ok_docs
    ][:30]
    assert got == want
