"""NRT streaming: micro-batches -> delta segments -> compaction, with exact
search parity against the one-shot batch build over the same corpus.

Chunks arrive in conv_id order (one file per micro-batch via
maxFilesPerTrigger=1, oldest-first), so streamed docids coincide with the
batch build's and parity is exact including tie-breaks — the NRT analogue of
the TestTopDocsMerge oracle.

Here every batch and merge runs in-process; test_build_paths re-runs these
tests with both on Spark.
"""
import os
import time

import pytest
from pyspark.sql import functions as F

from lucenenet_spark.operators.search import IndexSearcher
from lucenenet_spark.plans.query import BooleanQuery, TermQuery
from lucenenet_spark.streaming.nrt import NRTIndex
from lucenenet_spark.validate import check_index

from .conftest import N_DOCS, hits

pytestmark = pytest.mark.usefixtures("in_process_path")

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string,"
    " ts timestamp"
)

QUERIES = [
    TermQuery(term="popcorn"),
    BooleanQuery(must=(TermQuery(term="popcorn"), TermQuery(term="common3"))),
    BooleanQuery(should=(TermQuery(term="word7"), TermQuery(term="popcorn"))),
]


@pytest.fixture(scope="module")
def stream_source(spark, corpus_pdf, tmp_path_factory):
    """3 parquet files, one conv-range chunk each, mtimes strictly increasing."""
    src = tmp_path_factory.mktemp("stream_src")
    convs = sorted(corpus_pdf["conv_id"].unique())
    cut1, cut2 = convs[len(convs) // 3], convs[2 * len(convs) // 3]
    chunks = [
        corpus_pdf[corpus_pdf["conv_id"] < cut1],
        corpus_pdf[(corpus_pdf["conv_id"] >= cut1) & (corpus_pdf["conv_id"] < cut2)],
        corpus_pdf[corpus_pdf["conv_id"] >= cut2],
    ]
    for i, ch in enumerate(chunks):
        p = str(src / f"chunk-{i}.parquet")
        spark.createDataFrame(ch).coalesce(1).write.parquet(p + ".dir")
        # single data file per chunk, deterministic arrival order via mtime
        part = next(
            f for f in os.listdir(p + ".dir") if f.startswith("part-")
        )
        os.rename(os.path.join(p + ".dir", part), p)
        t = time.time() + i * 10
        os.utime(p, (t, t))
    for f in os.listdir(src):
        if f.endswith(".dir"):
            import shutil

            shutil.rmtree(os.path.join(src, f))
    return str(src)


@pytest.fixture(scope="module")
def nrt(spark, stream_source, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("nrt") / "idx")
    ckpt = str(tmp_path_factory.mktemp("nrt") / "ckpt")
    idx = NRTIndex(
        spark, base, max_segments=8, n_buckets=4, n_segments=4, salt_target=60
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_source)
    )
    q = idx.start(stream, ckpt, availableNow=True)
    q.awaitTermination(300)
    return idx


def test_three_delta_segments(nrt):
    assert len(nrt.segments()) == 3
    assert nrt.read_generation()["generation"] == 3


def test_streamed_equals_batch(nrt, searcher):
    s = nrt.searcher()
    assert s.max_doc == searcher.max_doc == N_DOCS
    assert s.avgdl == searcher.avgdl
    for q in QUERIES:
        assert hits(s.search(q, 20)) == hits(searcher.search(q, 20)), q


def test_compaction_generation_swap(nrt, searcher):
    merged = nrt.compact()
    assert merged is not None
    assert nrt.segments() == [merged]
    s = nrt.searcher()
    assert s._prunable  # compaction restores block-max pruning
    for q in QUERIES:
        assert hits(s.search(q, 20)) == hits(searcher.search(q, 20)), q
    report = check_index(nrt.spark, merged)
    assert report["ok"], report


def test_late_data_scores_unaffected(spark, corpus_pdf, oracle_index, tmp_path):
    """Late/out-of-order arrival: a conversation's later turns land in a
    SECOND batch. Docids become arrival-ordered (exactly Lucene's behavior),
    but BM25 scores depend only on global stats — the hit set and the score
    multiset must equal the oracle's, with ranks permuted only within
    equal-score ties."""
    import numpy as np

    from lucenenet_spark import oracle

    base = str(tmp_path / "late")
    idx = NRTIndex(spark, base, n_buckets=4, n_segments=4, salt_target=10**9)
    # batch 1 = even-indexed turns of every conversation; batch 2 = odd ones
    b1 = corpus_pdf[corpus_pdf["turn_idx"] % 2 == 0]
    b2 = corpus_pdf[corpus_pdf["turn_idx"] % 2 == 1]
    idx.process_batch(spark.createDataFrame(b1), 0)
    idx.process_batch(spark.createDataFrame(b2), 1)
    s = idx.searcher()
    assert s.max_doc == len(corpus_pdf)
    assert s.avgdl == oracle_index.avgdl
    got = s.search(TermQuery(term="popcorn"), 10**6, prune=False).toPandas()
    want = oracle.top_k(oracle.term_scores(oracle_index, "popcorn"), 10**6)
    assert len(got) == len(want)
    # identical float32 score multisets (docids are arrival-permuted)
    assert sorted(np.float32(got["score"]).tolist()) == sorted(
        float(sc) for _, sc in want
    )
    # and the docs themselves match: join hits back to (conv_id, turn_idx)
    fetched = s.fetch(s.scores(TermQuery(term="popcorn"))).toPandas()
    got_keys = {(c, int(t)) for c, t in zip(fetched["conv_id"], fetched["turn_idx"])}
    want_keys = {
        (corpus_pdf["conv_id"].iloc[d], int(corpus_pdf["turn_idx"].iloc[d]))
        for d, _ in want
    }
    assert got_keys == want_keys


def test_batch_idempotent_on_retry(nrt, spark):
    """Re-running a processed batch (streaming retry) must not duplicate."""
    seg0 = nrt.segments()[0]
    before = nrt.read_generation()["generation"]
    # simulate retry of an already-built segment id
    df = spark.createDataFrame([], SCHEMA)
    if seg0.endswith("seg-0000000000"):
        nrt.process_batch(df, 0)  # build() resumes to no-op; no re-register
        assert nrt.segments().count(seg0) == 1
        assert nrt.read_generation()["generation"] == before


def test_tiered_merge_policy(spark, corpus_pdf, searcher, tmp_path):
    """Size-tiered budgeted merging: only the cheapest contiguous window of
    maxMergeAtOnce segments merges (never a full rewrite), the generation
    swap is in place, and search stays bit-identical across generations."""
    base = str(tmp_path / "tiered")
    idx = NRTIndex(spark, base, n_buckets=4, n_segments=2, salt_target=10**9)
    n = len(corpus_pdf)
    cuts = [0, n // 4, n // 2, 3 * n // 4, n]
    for b, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        idx.process_batch(spark.createDataFrame(corpus_pdf.iloc[lo:hi]), b)
    assert len(idx.segments()) == 4  # default budget admits 4 equal segments
    before = idx.segments()
    merged = idx.maybe_merge(max_merge_at_once=2, segs_per_tier=2)
    segs = idx.segments()
    assert merged is not None and merged in segs
    assert len(segs) == 3  # ONE window of 2 merged, not compact-all
    # in-place swap: the unmerged segments survive in their original order
    survivors = [s for s in segs if s != merged]
    assert survivors == [s for s in before if s in set(survivors)]
    # merged inputs were a contiguous window of the generation before
    srcs = [s for s in before if s not in segs]
    assert len(srcs) == 2 and before.index(srcs[1]) == before.index(srcs[0]) + 1
    # bit-identical search across the merge (docid order preserved)
    s = idx.searcher()
    for q in QUERIES:
        assert hits(s.search(q, 20)) == hits(searcher.search(q, 20)), q
    # budget satisfied -> idempotent
    assert idx.maybe_merge(max_merge_at_once=2, segs_per_tier=2) is None


# -- IndexWriter.UpdateDocument analogue ------------------------------------------


def test_update_documents_replaces_by_key(spark, corpus_pdf, tmp_path_factory):
    """update_documents: one live doc per key after the update; untouched
    keys keep their original docs; search sees only the new versions."""
    base = str(tmp_path_factory.mktemp("nrt_upd") / "idx")
    idx = NRTIndex(
        spark, base, max_segments=8, n_buckets=4, n_segments=4,
        salt_target=60, keyword_fields=("role", "tool", "conv_id"),
    )
    first = corpus_pdf.head(120)
    idx.process_batch(spark.createDataFrame(first), 0)
    convs = sorted(first["conv_id"].unique())
    victim = convs[1]
    n_victim_old = int((first["conv_id"] == victim).sum())
    assert n_victim_old > 0

    upd = first[first["conv_id"] == victim].copy()
    upd["text"] = "replacement popcorn sentinelupdated"
    idx.update_documents(spark.createDataFrame(upd), 1, "conv_id")

    s = idx.searcher()
    from lucenenet_spark.plans.query import TermQuery as TQ

    got = s.search(TQ(field="conv_id", term=victim), 1000)
    rows = got.collect()
    # exactly the replacement docs survive (old versions deleted)
    assert len(rows) == len(upd)
    fetched = s.fetch(got).select("docid", "conv_id").collect()
    assert all(r["conv_id"] == victim for r in fetched)
    # the new content is searchable, the old victim docids are dead
    upd_hits = s.search(TQ(term="sentinelupdated"), 1000).collect()
    assert len(upd_hits) == len(upd)
    # untouched conversations unaffected
    other = convs[2]
    n_other = int((first["conv_id"] == other).sum())
    assert s.search(TQ(field="conv_id", term=other), 1000).count() == n_other


def test_update_documents_retry_is_idempotent(spark, corpus_pdf, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("nrt_upd2") / "idx")
    idx = NRTIndex(
        spark, base, max_segments=8, n_buckets=4, n_segments=4,
        salt_target=60, keyword_fields=("role", "tool", "conv_id"),
    )
    first = corpus_pdf.head(60)
    idx.process_batch(spark.createDataFrame(first), 0)
    victim = sorted(first["conv_id"].unique())[0]
    upd = first[first["conv_id"] == victim].copy()
    upd["text"] = "retried replacement"
    idx.update_documents(spark.createDataFrame(upd), 1, "conv_id")
    before = idx.searcher().scores(
        TermQuery(field="conv_id", term=victim)
    ).count()
    # streaming retry of the same batch id: must NOT delete the new docs
    idx.update_documents(spark.createDataFrame(upd), 1, "conv_id")
    after = idx.searcher().scores(
        TermQuery(field="conv_id", term=victim)
    ).count()
    assert before == after == len(upd)
