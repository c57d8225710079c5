"""Payload channel: codec round-trip, PayloadTermQuery scoring parity vs
the pure-Python oracle, multi-segment/merge preservation, and the honest
guard on payload-less indexes.

Reference: Search/Payloads/PayloadTermQuery.cs + PayloadFunction
(Min/Max/AveragePayloadFunction.cs), payload bytes stored in the pos block
(Lucene41PostingsWriter.cs), PayloadHelper.EncodeSingle/DecodeSingle wire
format (Analysis.Common/Analysis/Payloads/PayloadHelper.cs).
"""
import numpy as np
import pytest
from pyspark.sql import functions as F

from lucenenet_spark import oracle
from lucenenet_spark.operators.codec import decode_frame, encode_frame
from lucenenet_spark.operators.index_build import IndexBuilder
from lucenenet_spark.operators.merge import merge_segments
from lucenenet_spark.operators.search import IndexSearcher
from lucenenet_spark.plans.query import PayloadTermQuery, TermQuery

from .conftest import N_DOCS, hits

FUNCS = ["avg", "min", "max"]
TERMS = ["popcorn", "hello", "word7"]  # hot (salted), mid, low


# -- codec ------------------------------------------------------------------


def _pay_frame(lens, buf):
    """One block of len(lens) single-occurrence postings whose payloads are
    `lens` and `buf`, through encode_frame and back through decode_frame."""
    n = len(lens)
    cols = encode_frame(
        np.array([0, n]), np.arange(n), np.ones(n, np.int64), np.zeros(n, np.uint8),
        np.ones(n, np.float32), max(n, 1), pos=(np.zeros(n), np.array([0, n])),
        pay=(np.asarray(lens), np.array([0, n]), np.frombuffer(buf, np.uint8),
             np.array([0, len(buf)])),
    )
    return decode_frame({c: list(v) for c, v in cols.items() if c != "group"})


def test_payload_roundtrip_mixed_lens():
    rng = np.random.default_rng(7)
    lens = rng.integers(0, 9, size=200).astype(np.int64)
    lens[rng.random(200) < 0.3] = 0  # occurrences without a payload
    buf = rng.bytes(int(lens.sum()))
    f = _pay_frame(lens, buf)
    assert np.array_equal(f.pay_len, lens)
    assert f.pay_buf.tobytes() == buf


def test_payload_roundtrip_empty():
    f = _pay_frame(np.zeros(0, np.int64), b"")
    assert len(f.pay_len) == 0 and f.pay_buf.tobytes() == b""
    # a block without payloads (empty pay_enc) reads as zero lengths
    f = decode_frame({
        "first_docid": [0], "count": [5], "docids_enc": [bytes([0]) + (1).to_bytes(8, "big")],
        "tfs_enc": [bytes([0]) + (1).to_bytes(8, "big")], "pay_enc": [b""],
    })
    assert np.array_equal(f.pay_len, np.zeros(5, dtype=np.int64))
    assert f.pay_buf.tobytes() == b"" and not f.has_pay.any()


def test_float_payload_decode():
    vals = np.array([1.5, -2.0, 3.25], dtype=np.float32)
    got = _pay_frame(np.array([4, 4, 4]), vals.astype(">f4").tobytes()).float_payloads()
    assert np.array_equal(got, vals)


def test_float_payload_decode_with_gaps():
    """Zero-length occurrences decode as NaN (IsPayloadAvailable false)."""
    vals = np.array([7.0, 9.0], dtype=np.float32)
    got = _pay_frame(np.array([4, 0, 4]), vals.astype(">f4").tobytes()).float_payloads()
    assert got[0] == np.float32(7.0) and got[2] == np.float32(9.0)
    assert np.isnan(got[1])


# -- engine vs oracle -------------------------------------------------------


@pytest.fixture(scope="module")
def pay_index(spark, tmp_path_factory):
    """Multi-segment index with the position_float payload provider."""
    from lucenenet_spark.datagen import transcripts_spark

    out = str(tmp_path_factory.mktemp("payidx") / "main")
    df = transcripts_spark(spark, N_DOCS, partitions=4)
    IndexBuilder(
        spark, out, n_buckets=8, n_segments=8, salt_target=60,
        payload_provider="position_float",
    ).build(df)
    return out


@pytest.fixture(scope="module")
def pay_searcher(spark, pay_index):
    return IndexSearcher(spark, pay_index)


def test_manifest_records_provider(pay_searcher):
    for s in pay_searcher.segments:
        assert s["manifest"]["payload_provider"] == "position_float"


@pytest.mark.parametrize("term", TERMS)
@pytest.mark.parametrize("fn", FUNCS)
def test_payload_term_matches_oracle(pay_searcher, oracle_index, term, fn):
    got = hits(pay_searcher.search(PayloadTermQuery(term=term, function=fn), 20))
    want = oracle.top_k(
        oracle.payload_term_scores(oracle_index, term, function=fn), 20
    )
    assert got == want


@pytest.mark.parametrize("fn", FUNCS)
def test_payload_only_score(pay_searcher, oracle_index, fn):
    q = PayloadTermQuery(term="popcorn", function=fn, include_span_score=False)
    got = hits(pay_searcher.search(q, 20))
    want = oracle.top_k(
        oracle.payload_term_scores(
            oracle_index, "popcorn", function=fn, include_span_score=False
        ),
        20,
    )
    assert got == want


def test_payload_absent_term(pay_searcher):
    assert hits(pay_searcher.search(PayloadTermQuery(term="zzzqx"), 10)) == []


def test_payload_boost(pay_searcher, oracle_index):
    got = hits(pay_searcher.search(PayloadTermQuery(term="hello", boost=2.5), 10))
    want = oracle.top_k(
        oracle.payload_term_scores(oracle_index, "hello", boost=2.5), 10
    )
    assert got == want


def test_payload_ignores_regular_queries(pay_searcher, searcher):
    """The extra channel never changes non-payload scoring."""
    q = TermQuery(term="popcorn")
    assert hits(pay_searcher.search(q, 20)) == hits(searcher.search(q, 20))


def test_guard_on_payloadless_index(searcher):
    with pytest.raises(NotImplementedError, match="payload"):
        searcher.search(PayloadTermQuery(term="popcorn"), 10).collect()


def test_guard_provider_requires_positions(spark, tmp_path):
    with pytest.raises(ValueError, match="positions"):
        IndexBuilder(
            spark, str(tmp_path / "x"), index_options="docs_freqs",
            payload_provider="position_float",
        )


def test_check_index_validates_payloads(spark, pay_index):
    from lucenenet_spark.validate import check_index

    res = check_index(spark, pay_index)
    assert res["ok"], res


# -- merge preservation -----------------------------------------------------


def test_payloads_survive_merge(spark, pay_index, pay_searcher, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("paymerged") / "idx")
    merge_segments(
        spark, [pay_index], out, n_buckets=4, salt_target=60, build_id="pm-0"
    )
    m = IndexSearcher(spark, out)
    assert m.segments[0]["manifest"]["payload_provider"] == "position_float"
    for term in TERMS:
        for fn in FUNCS:
            q = PayloadTermQuery(term=term, function=fn)
            assert hits(m.search(q, 20)) == hits(pay_searcher.search(q, 20)), (
                term,
                fn,
            )


def test_payloads_survive_delete_compaction(
    spark, pay_index, corpus_pdf, tmp_path_factory
):
    """Merge with live-docs: deleted docs' payload bytes are compacted out
    (the byte_keep repeat-slice in _decoded_partials) and surviving docs
    keep bit-identical payload scores under the remapped docids."""
    import shutil

    # copy first: delete logs persist into the index dir and must not leak
    # into the shared pay_index fixture
    src = str(tmp_path_factory.mktemp("paydel") / "src")
    shutil.copytree(pay_index, src)
    s = IndexSearcher(spark, src)
    victims = [d for d, _ in hits(s.search(TermQuery(term="popcorn"), 3))]
    s.delete_docids(
        spark.createDataFrame([(d,) for d in victims], "docid long")
    )
    out = str(tmp_path_factory.mktemp("paydel") / "idx")
    merge_segments(
        spark, [src], out, n_buckets=4, salt_target=60, build_id="pd-0"
    )
    m = IndexSearcher(spark, out)
    # compaction purges deleted docs from the stats (df/max_doc/avgdl are
    # recomputed over survivors, exactly like a Lucene merge) — so the
    # oracle is a fresh index over the surviving texts in docid order
    texts = [
        t
        for d, t in enumerate(corpus_pdf["text"].tolist())
        if d not in set(victims)
    ]
    surv_oracle = oracle.build_index(texts)
    want = oracle.top_k(
        oracle.payload_term_scores(surv_oracle, "popcorn"), 20
    )
    got = hits(m.search(PayloadTermQuery(term="popcorn"), 20))
    assert got == want


def test_merge_mixed_providers_drops_payloads(
    spark, pay_index, index_dir, tmp_path_factory
):
    """FieldInfos merge semantics: a payload-less source segment poisons the
    merged field — the merged manifest carries no provider and payload
    queries refuse to run."""
    out = str(tmp_path_factory.mktemp("paymixed") / "idx")
    merge_segments(
        spark, [pay_index, index_dir], out, n_buckets=4, salt_target=60,
        build_id="pm-1",
    )
    m = IndexSearcher(spark, out)
    assert m.segments[0]["manifest"]["payload_provider"] is None
    with pytest.raises(NotImplementedError, match="payload"):
        m.search(PayloadTermQuery(term="popcorn"), 10).collect()


# -- PayloadNearQuery ---------------------------------------------------------


def _top_pairs(corpus_pdf, n=2):
    from lucenenet_spark.functions.analysis import tokenize_text

    cnt = {}
    for text in corpus_pdf["text"]:
        toks = tokenize_text(text)
        for a, b in zip(toks, toks[1:]):
            if a != b:
                cnt[(a, b)] = cnt.get((a, b), 0) + 1
    return [p for p, _ in sorted(cnt.items(), key=lambda kv: -kv[1])[:n]]


@pytest.mark.parametrize("fn", FUNCS)
@pytest.mark.parametrize("slop", [0, 3])
def test_payload_near_matches_oracle(pay_searcher, oracle_index, corpus_pdf, fn, slop):
    from lucenenet_spark.operators import spans as sp

    for t1, t2 in _top_pairs(corpus_pdf):
        q = sp.PayloadNearQuery(
            clauses=(sp.SpanTermQuery(term=t1), sp.SpanTermQuery(term=t2)),
            slop=slop,
            function=fn,
        )
        want = oracle.top_k(sp.payload_near_scores_oracle(oracle_index, q), 15)
        got = hits(sp.payload_near_search(pay_searcher, q, 15))
        assert got == want, (t1, t2, fn, slop)


def test_payload_near_three_clauses(pay_searcher, oracle_index, corpus_pdf):
    """3-clause near: payload collection order (last clause first, then
    backward) matters for the f32 avg fold — SQL oracles stop at 2 clauses,
    so this is the coverage for >2."""
    from lucenenet_spark.functions.analysis import tokenize_text
    from lucenenet_spark.operators import spans as sp

    cnt = {}
    for text in corpus_pdf["text"]:
        toks = tokenize_text(text)
        for a, b, c in zip(toks, toks[1:], toks[2:]):
            if len({a, b, c}) == 3:
                cnt[(a, b, c)] = cnt.get((a, b, c), 0) + 1
    (t1, t2, t3), _n = sorted(cnt.items(), key=lambda kv: -kv[1])[0]
    q = sp.PayloadNearQuery(
        clauses=(
            sp.SpanTermQuery(term=t1),
            sp.SpanTermQuery(term=t2),
            sp.SpanTermQuery(term=t3),
        ),
        slop=2,
        function="avg",
    )
    want = oracle.top_k(sp.payload_near_scores_oracle(oracle_index, q), 15)
    got = hits(sp.payload_near_search(pay_searcher, q, 15))
    assert want, "fixture must produce matches"
    assert got == want


def test_payload_near_guards(pay_searcher, searcher):
    from lucenenet_spark.operators import spans as sp

    q = sp.PayloadNearQuery(
        clauses=(sp.SpanTermQuery(term="hello"), sp.SpanTermQuery(term="world")),
        in_order=False,
    )
    with pytest.raises(NotImplementedError, match="unordered"):
        sp.payload_near_search(pay_searcher, q, 10)
    q2 = sp.PayloadNearQuery(
        clauses=(sp.SpanTermQuery(term="hello"), sp.SpanTermQuery(term="world"))
    )
    with pytest.raises(NotImplementedError, match="payload"):
        sp.payload_near_search(searcher, q2, 10)


# -- every similarity (new r5) ------------------------------------------------

SIMS = ["classic", "lmd", "lmjm", "dfr_inl2", "dfr_gb2", "ib_ll"]


@pytest.mark.parametrize("sim", SIMS)
@pytest.mark.parametrize("fn", FUNCS)
def test_payload_term_every_similarity(spark, pay_index, oracle_index, sim, fn):
    """PayloadTermQuery.cs GetScore routes the span part through the ACTIVE
    SimScorer — the engine must match the oracle's kernel-at-sloppy-freq *
    payload-factor under every similarity family."""
    s = IndexSearcher(spark, pay_index, similarity=sim)
    got = hits(s.search(PayloadTermQuery(term="hello", function=fn), 15))
    want = oracle.top_k(
        oracle.payload_term_scores_sim(oracle_index, "hello", sim, function=fn),
        15,
    )
    assert got == want


@pytest.mark.parametrize("sim", ["classic", "lmd"])
def test_payload_boost_under_sim(spark, pay_index, oracle_index, sim):
    s = IndexSearcher(spark, pay_index, similarity=sim)
    got = hits(s.search(PayloadTermQuery(term="popcorn", boost=1.7), 15))
    want = oracle.top_k(
        oracle.payload_term_scores_sim(
            oracle_index, "popcorn", sim, boost=1.7
        ),
        15,
    )
    assert got == want


@pytest.mark.parametrize("sim", SIMS)
def test_payload_only_score_sim_independent(spark, pay_index, sim):
    """include_span_score=False is the factor alone — identical under every
    similarity (no kernel involved)."""
    bm = IndexSearcher(spark, pay_index)
    other = IndexSearcher(spark, pay_index, similarity=sim)
    q = PayloadTermQuery(term="hello", function="max", include_span_score=False)
    assert hits(bm.search(q, 15)) == hits(other.search(q, 15))


@pytest.mark.parametrize("sim", SIMS)
@pytest.mark.parametrize("fn", FUNCS)
def test_payload_near_every_similarity(
    spark, pay_index, oracle_index, corpus_pdf, sim, fn
):
    """PayloadNearQuery routes its span kernel through the ACTIVE SimScorer
    too (PayloadNearQuery.cs GetScore) — shared sloppyFreq/factor folds,
    kernel swapped."""
    from lucenenet_spark.operators import spans as sp

    (t1, t2), *_ = _top_pairs(corpus_pdf)
    q = sp.PayloadNearQuery(
        clauses=(sp.SpanTermQuery(term=t1), sp.SpanTermQuery(term=t2)),
        slop=3,
        function=fn,
    )
    s = IndexSearcher(spark, pay_index, similarity=sim)
    want = oracle.top_k(
        sp.payload_near_scores_oracle_sim(oracle_index, q, sim), 15
    )
    assert want, (t1, t2, sim, fn)
    got = hits(sp.payload_near_search(s, q, 15))
    assert got == want
