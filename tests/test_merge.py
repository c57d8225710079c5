"""Segment merge + multi-segment search: the TestTopDocsMerge/SegmentMerger
oracle pattern — sharded results must equal the single-index results exactly
(docids AND float32 scores), and compaction must be a no-op for queries.

Segments split the corpus by conv_id ranges IN ORDER, so docBase-shifted
per-segment docids coincide with the single-build docids and equality is
exact including tie-breaks.

Here every merge runs in-process; test_build_paths re-runs these tests with
merges on Spark.
"""
import numpy as np
import pytest
from pyspark.sql import functions as F

from lucenenet_spark import oracle
from lucenenet_spark.operators.index_build import IndexBuilder
from lucenenet_spark.operators.merge import merge_segments
from lucenenet_spark.operators.search import IndexSearcher
from lucenenet_spark.plans.query import BooleanQuery, TermQuery
from lucenenet_spark.validate import check_index

from .conftest import N_DOCS, hits

pytestmark = pytest.mark.usefixtures("in_process_path")

QUERIES = [
    TermQuery(term="popcorn"),
    TermQuery(term="hello"),
    BooleanQuery(must=(TermQuery(term="popcorn"), TermQuery(term="common3"))),
    BooleanQuery(
        should=(TermQuery(term="word7"), TermQuery(term="word8"), TermQuery(term="popcorn"))
    ),
    BooleanQuery(should=(TermQuery(term="popcorn"),), must_not=(TermQuery(term="word7"),)),
    BooleanQuery(
        should=tuple(TermQuery(term=t) for t in ["word7", "word8", "popcorn", "hello"]),
        min_should_match=2,
    ),
]


@pytest.fixture(scope="module")
def segment_dirs(spark, corpus_pdf, tmp_path_factory):
    """Corpus split into 2 segments at the median conv_id (order-preserving)."""
    from lucenenet_spark.datagen import transcripts_spark

    base = tmp_path_factory.mktemp("segs")
    df = transcripts_spark(spark, N_DOCS, partitions=4)
    convs = sorted(corpus_pdf["conv_id"].unique())
    split = convs[len(convs) // 2]
    parts = [df.filter(F.col("conv_id") < split), df.filter(F.col("conv_id") >= split)]
    dirs = []
    for i, p in enumerate(parts):
        d = str(base / f"seg{i}")
        IndexBuilder(spark, d, n_buckets=4, n_segments=4, salt_target=60).build(
            p, build_id=f"seg-{i}"
        )
        dirs.append(d)
    return dirs


@pytest.fixture(scope="module")
def merged_dir(spark, segment_dirs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("merged") / "idx")
    merge_segments(
        spark, segment_dirs, out, n_buckets=8, salt_target=60, build_id="m-0"
    )
    return out


def test_multisegment_equals_single(spark, segment_dirs, searcher):
    multi = IndexSearcher(spark, segment_dirs)
    assert multi.max_doc == searcher.max_doc
    assert multi.avgdl == searcher.avgdl
    for q in QUERIES:
        assert hits(multi.search(q, 20)) == hits(searcher.search(q, 20)), q


def test_merged_equals_single(spark, merged_dir, searcher):
    m = IndexSearcher(spark, merged_dir)
    assert m.max_doc == searcher.max_doc
    assert m.avgdl == searcher.avgdl
    for q in QUERIES:
        assert hits(m.search(q, 20)) == hits(searcher.search(q, 20)), q


def test_merged_matches_oracle(spark, merged_dir, oracle_index):
    m = IndexSearcher(spark, merged_dir)
    got = hits(m.search(TermQuery(term="popcorn"), 15))
    want = oracle.top_k(oracle.term_scores(oracle_index, "popcorn"), 15)
    assert got == want


def test_merged_prune_restored_and_safe(spark, merged_dir, oracle_index):
    """Compaction re-derives block-max bounds under merged stats; forced
    pruning on the merged index must stay rank-identical."""
    m = IndexSearcher(spark, merged_dir, prune_min_postings=0)
    assert m._prunable
    q = BooleanQuery(
        should=(TermQuery(term="popcorn"), TermQuery(term="word7"), TermQuery(term="hello"))
    )
    got = hits(m.search(q, 10, prune=True))
    want = oracle.top_k(
        oracle.boolean_scores(oracle_index, should=["popcorn", "word7", "hello"]), 10
    )
    assert got == want


def test_multisegment_pruning_disabled(spark, segment_dirs):
    multi = IndexSearcher(spark, segment_dirs, prune_min_postings=0)
    assert not multi._prunable  # per-segment bounds invalid under global stats


def test_merged_passes_check_index(spark, merged_dir):
    report = check_index(spark, merged_dir)
    assert report["ok"], report


def test_merged_docs_view_complete(spark, merged_dir, corpus_pdf):
    m = IndexSearcher(spark, merged_dir)
    docs = m.docs().select("docid", "conv_id", "turn_idx").orderBy("docid").toPandas()
    assert docs["docid"].tolist() == list(range(len(corpus_pdf)))
    assert docs["conv_id"].tolist() == corpus_pdf["conv_id"].tolist()


def test_merged_term_stats_are_sums(spark, merged_dir, segment_dirs, oracle_index):
    m = IndexSearcher(spark, merged_dir)
    df = m.doc_freqs(["popcorn", "hello", "word7"])
    for f, t in df:
        assert df[(f, t)] == len(oracle_index.postings.get(t, [])), t


def test_phrase_parity_after_merge(spark, merged_dir, oracle_index, corpus_pdf):
    """Positions survive the decode->concat->re-encode merge: phrase and
    span results on the merged index match the oracle bit-for-bit."""
    from lucenenet_spark import oracle
    from lucenenet_spark.functions.analysis import tokenize_text
    from lucenenet_spark.operators import spans as sp
    from lucenenet_spark.plans.query import PhraseQuery

    s = IndexSearcher(spark, merged_dir)
    # a real adjacent pair from the corpus
    pair = None
    for text in corpus_pdf["text"]:
        toks = tokenize_text(text)
        if len(toks) >= 2:
            pair = (toks[0], toks[1])
            break
    for slop in (0, 2):
        q = PhraseQuery(terms=pair, slop=slop)
        want = oracle.top_k(
            oracle.phrase_scores(oracle_index, list(pair), slop=slop), 10
        )
        assert hits(s.search(q, 10)) == want, (pair, slop)
    sq = sp.SpanNearQuery(
        clauses=(sp.SpanTermQuery(term=pair[0]), sp.SpanTermQuery(term=pair[1])),
        slop=3,
    )
    want = oracle.top_k(sp.span_scores_oracle(oracle_index, sq), 10)
    assert hits(sp.span_search(s, sq, 10)) == want


def test_phrase_parity_after_delete_merge(spark, segment_dirs, corpus_pdf, tmp_path):
    """Delete-merge renumbers docids AND drops the deleted postings'
    position runs; phrase scoring on the compacted index must equal an
    oracle built over only the surviving corpus."""
    import shutil

    from lucenenet_spark import oracle
    from lucenenet_spark.functions.analysis import tokenize_text
    from lucenenet_spark.plans.query import PhraseQuery, TermQuery

    copies = []
    for i, d in enumerate(segment_dirs):
        c = str(tmp_path / f"seg{i}")
        shutil.copytree(d, c)
        copies.append(c)
    s = IndexSearcher(spark, copies)
    s.delete_by_term("hello")
    out = str(tmp_path / "compact")
    merge_segments(spark, copies, out, n_buckets=4, salt_target=10**9)
    live_mask = [
        "hello" not in tokenize_text(t) for t in corpus_pdf["text"]
    ]
    live_texts = [t for t, keep in zip(corpus_pdf["text"], live_mask) if keep]
    oidx = oracle.build_index(live_texts)
    sm = IndexSearcher(spark, out)
    pair = None
    for text in live_texts:
        toks = tokenize_text(text)
        if len(toks) >= 2:
            pair = (toks[0], toks[1])
            break
    for slop in (0, 2):
        want = oracle.top_k(
            oracle.phrase_scores(oidx, list(pair), slop=slop), 10
        )
        got = hits(sm.search(PhraseQuery(terms=pair, slop=slop), 10))
        assert got == want, (pair, slop)


def test_phrase_parity_multisegment(spark, segment_dirs, oracle_index, corpus_pdf):
    """Phrase scoring across UNcompacted segments (docBase-shifted block
    union, stats summed before weights freeze)."""
    from lucenenet_spark.functions.analysis import tokenize_text
    from lucenenet_spark.plans.query import PhraseQuery

    multi = IndexSearcher(spark, segment_dirs)
    toks = next(
        tokenize_text(t) for t in corpus_pdf["text"] if len(tokenize_text(t)) >= 2
    )
    pair = (toks[0], toks[1])
    for slop in (0, 2):
        want = oracle.top_k(
            oracle.phrase_scores(oracle_index, list(pair), slop=slop), 10
        )
        assert hits(multi.search(PhraseQuery(terms=pair, slop=slop), 10)) == want
