"""Shared fixtures: one SparkSession, one corpus, indexes built once.

Mirrors the reference test strategy (SURVEY.md §5): a trusted pure-Python
oracle + the Spark engine over the same corpus with identical docIDs, and an
N-partition vs 1-partition build for TestTopDocsMerge-style equivalence.
"""
from __future__ import annotations

import os
import sys
import uuid
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = 500  # small enough for a fast suite, big enough for multi-block terms


@pytest.fixture(scope="session")
def spark():
    from lucenenet_spark.session import get_spark

    # a bounded driver heap: under get_spark's default (32g, sized for a
    # cluster node) one oversized allocation grows the JVM past the RAM of
    # a small test host, and the kernel's OOM killer then picks among all
    # of the host's processes instead of the JVM failing on its own heap
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_pdf():
    from lucenenet_spark.datagen import generate_transcripts

    return (
        generate_transcripts(N_DOCS)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


@pytest.fixture(scope="session")
def oracle_index(corpus_pdf):
    from lucenenet_spark import oracle

    return oracle.build_index(corpus_pdf["text"].tolist())


@pytest.fixture(scope="session")
def index_dir(spark, tmp_path_factory):
    """Engine index over the same corpus, multi-segment multi-bucket build."""
    from lucenenet_spark.datagen import transcripts_spark
    from lucenenet_spark.operators.index_build import IndexBuilder

    out = str(tmp_path_factory.mktemp("idx") / "main")
    df = transcripts_spark(spark, N_DOCS, partitions=4)
    # salt_target small so the hot 'popcorn' term actually exercises salting
    IndexBuilder(spark, out, n_buckets=8, n_segments=8, salt_target=60).build(df)
    return out


@pytest.fixture(scope="session")
def index_dir_1seg(spark, tmp_path_factory):
    """Same corpus, single segment/bucket — partition-equivalence baseline."""
    from lucenenet_spark.datagen import transcripts_spark
    from lucenenet_spark.operators.index_build import IndexBuilder

    out = str(tmp_path_factory.mktemp("idx1") / "main")
    df = transcripts_spark(spark, N_DOCS, partitions=1)
    IndexBuilder(spark, out, n_buckets=1, n_segments=1, salt_target=10**9).build(df)
    return out


@pytest.fixture(scope="session")
def searcher(spark, index_dir):
    from lucenenet_spark.operators.search import IndexSearcher

    return IndexSearcher(spark, index_dir)


@pytest.fixture(scope="session")
def searcher_1seg(spark, index_dir_1seg):
    from lucenenet_spark.operators.search import IndexSearcher

    return IndexSearcher(spark, index_dir_1seg)


def phrase_pairs(corpus_pdf, oracle_index, n: int = 1, min_docs: int = 3):
    """The n adjacent-token pairs held by the most docs (ties in token
    order), each checked to match at least min_docs docs as an exact phrase.
    Ranking by occurrences instead picks a pair repeated inside one doc
    ("spark spark", 49 times in one turn), and every phrase test built on
    it then checks a one-hit result."""
    from lucenenet_spark import oracle
    from lucenenet_spark.functions.analysis import tokenize_text

    docs_of: dict = {}
    for text in corpus_pdf["text"]:
        toks = tokenize_text(text)
        for pair in set(zip(toks, toks[1:])):
            docs_of[pair] = docs_of.get(pair, 0) + 1
    pairs = sorted(docs_of, key=lambda p: (-docs_of[p], p))[:n]
    for p in pairs:
        assert len(oracle.phrase_scores(oracle_index, list(p))) >= min_docs, p
    return pairs


def hits(df) -> list[tuple[int, "np.float32"]]:
    """Collect a search result into [(docid, float32 score)]."""
    import numpy as np

    return [(r["docid"], np.float32(r["score"])) for r in df.collect()]


@contextmanager
def count_jobs(spark):
    """Count, exactly, the Spark jobs launched inside the block: they run
    under a fresh job group, read back through statusTracker() once the
    listener bus has delivered their events. Yields a dict whose "jobs"
    entry is set on exit."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count_jobs")
    out: dict = {}
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))


@contextmanager
def forced_build_path(path: str):
    """Force NRT batches and merges onto one build path: "in_process"
    (everything fits LOCAL_MAX_DOCS) or "spark" (nothing does)."""
    from lucenenet_spark.operators import index_build

    mp = pytest.MonkeyPatch()
    mp.setattr(index_build, "LOCAL_MAX_DOCS", {"in_process": 10**9, "spark": -1}[path])
    try:
        yield path
    finally:
        mp.undo()


@pytest.fixture(scope="module")
def in_process_path():
    with forced_build_path("in_process") as p:
        yield p


@pytest.fixture(scope="module")
def spark_path():
    with forced_build_path("spark") as p:
        yield p


@contextmanager
def forced_runner(runner: str):
    """Force every query onto one runner: "local" (every plan without a
    Spark-only leaf runs on the driver) or "spark" (none does)."""
    from lucenenet_spark.operators import index_build

    mp = pytest.MonkeyPatch()
    mp.setattr(index_build, "LOCAL_MAX_POSTINGS", {"local": 10**12, "spark": -1}[runner])
    try:
        yield runner
    finally:
        mp.undo()


@pytest.fixture(scope="module")
def spark_runner():
    """For tests that assert Spark plans or job counts of a search."""
    with forced_runner("spark") as r:
        yield r
