"""SweetSpotSimilarity — encoder/tf properties straight from the
reference's own SweetSpotSimilarityTest.cs, plus engine end-to-end parity
on a sweet-norm index.

References: Lucene.Net.Misc/Misc/SweetSpotSimilarity.cs (ComputeLengthNorm
:142-149, BaselineTf :172-180, LengthNorm :108-121),
Lucene.Net.Tests.Misc/Misc/SweetSpotSimilarityTest.cs (base-case
degradation, the 3..10 plateau, the shifted tail, tf flat/higher cases).
"""
import numpy as np
import pytest

from lucenenet_spark.functions.smallfloat import DECODE_TABLE, encode_norm
from lucenenet_spark.functions.sweetspot import (
    baseline_tf,
    norm_encoder,
    parse_norm_spec,
    sweet_norm_runs,
)
from lucenenet_spark.plans.query import PhraseQuery, TermQuery

LENS = np.arange(1, 1000, dtype=np.int64)


def test_default_factors_degrade_to_default_similarity():
    # TestSweetSpotComputeNorm base case: (1, 1, 0.5) == 1/sqrt(n) bytes
    assert np.array_equal(
        norm_encoder("sweetspot:1:1:0.5")(LENS), encode_norm(LENS)
    )


def test_plateau_decodes_to_one():
    enc = norm_encoder("sweetspot:3:10:0.5")
    spot = np.arange(3, 11, dtype=np.int64)
    assert np.all(DECODE_TABLE[enc(spot)] == np.float32(1.0))


def test_tail_matches_shifted_default():
    # 3,10: 10<x — sweet(i) == default(i-9)
    enc = norm_encoder("sweetspot:3:10:0.5")
    i = np.arange(10, 1000, dtype=np.int64)
    assert np.array_equal(enc(i), encode_norm(i - 9))


def test_baseline_tf_vectors():
    freqs = LENS.astype(np.float32)
    # (0, 0) degrades to sqrt
    assert np.array_equal(
        baseline_tf(freqs, np.float32(0.0), np.float32(0.0)),
        np.sqrt(freqs.astype(np.float64)).astype(np.float32),
    )
    # (1, 0) strictly higher than sqrt
    assert np.all(
        baseline_tf(freqs, np.float32(1.0), np.float32(0.0)) > np.sqrt(freqs)
    )
    # flat below min
    flat = baseline_tf(
        np.arange(1, 7, dtype=np.float32), np.float32(2.0), np.float32(6.0)
    )
    assert np.all(flat == np.float32(2.0))
    # (2, 6) strictly lower than sqrt above the min
    hi = np.arange(7, 1001, dtype=np.float32)
    assert np.all(baseline_tf(hi, np.float32(2.0), np.float32(6.0)) < np.sqrt(hi))
    # freq 0 -> 0
    assert baseline_tf(
        np.zeros(1, dtype=np.float32), np.float32(2.0), np.float32(6.0)
    )[0] == np.float32(0.0)


def test_parse_norm_spec_rejects_garbage():
    with pytest.raises(ValueError):
        parse_norm_spec("sweetspot:3:10")
    with pytest.raises(ValueError):
        parse_norm_spec("plateau:3:10:0.5")
    assert parse_norm_spec("standard") is None


def test_norm_runs_cover_domain_contiguously():
    runs = sweet_norm_runs("sweetspot:3:10:0.5", max_len=4096)
    assert runs[0][0] == 1 and runs[-1][1] == 4096
    for (_, hi_a, _d), (lo_b, _, _d2) in zip(runs, runs[1:]):
        assert lo_b == hi_a + 1


TERM = "popcorn"
SPEC = "sweetspot:3:10:0.5"


@pytest.fixture(scope="module")
def sweet_searcher(spark, corpus_pdf, tmp_path_factory):
    from lucenenet_spark.datagen import transcripts_spark
    from lucenenet_spark.operators.index_build import IndexBuilder
    from lucenenet_spark.operators.search import IndexSearcher

    out = str(tmp_path_factory.mktemp("sweet") / "idx")
    df = transcripts_spark(spark, len(corpus_pdf), partitions=4)
    IndexBuilder(
        spark, out, n_buckets=4, n_segments=4, salt_target=60, norm_spec=SPEC
    ).build(df)
    return IndexSearcher(spark, out, similarity="sweetspot:1.5:2")


def test_engine_term_scores_match_recompute(
    sweet_searcher, corpus_pdf, oracle_index
):
    from lucenenet_spark import oracle

    got = {
        r["docid"]: r["score"]
        for r in sweet_searcher.scores(TermQuery(term=TERM)).collect()
    }
    lens = np.array(
        [
            len(oracle.tokenize_with_positions(t, "standard")[0])
            for t in corpus_pdf["text"]
        ],
        dtype=np.int64,
    )
    dec = DECODE_TABLE[norm_encoder(SPEC)(lens)]
    post = dict(oracle_index.postings[TERM])
    idf = oracle.classic_idf(len(post), len(corpus_pdf))
    qnorm = np.float32(np.float64(1.0) / np.sqrt(np.float64(np.float32(idf * idf))))
    value = np.float32(np.float32(idf * qnorm) * idf)
    assert set(got) == set(post)
    for d, tf in post.items():
        tfv = baseline_tf(
            np.array([tf], dtype=np.float32), np.float32(1.5), np.float32(2.0)
        )[0]
        want = np.float32(np.float32(tfv * value) * dec[d])
        assert got[d] == want, d


def test_engine_phrase_under_sweetspot_runs(sweet_searcher, corpus_pdf):
    # phrase freq routes through the same BaselineTf swap (SimScorer's
    # TF-IDF kernel); value-exactness is gated by phrase_sweetspot
    from lucenenet_spark.functions.analysis import tokenize_text

    pairs: dict = {}
    for text in corpus_pdf["text"]:
        toks = tokenize_text(text)
        for a, b in zip(toks, toks[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
    t1, t2 = max(pairs, key=pairs.get)
    rows = sweet_searcher.search(PhraseQuery(terms=(t1, t2)), 5).collect()
    assert rows and all(r["score"] > 0 for r in rows)


def test_checkindex_validates_sweet_norms(spark, sweet_searcher):
    from lucenenet_spark.validate import check_index

    res = check_index(spark, sweet_searcher.index_dir)
    assert res["norms"]["ok"], res["norms"]
