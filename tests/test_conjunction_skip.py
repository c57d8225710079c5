"""Conjunction block-range skipping (the skip-list Advance analogue).

AND(hot, rare) must decode a number of blocks proportional to the RARE
clause's df, not the hot one's (ConjunctionScorer.cs:49-66 cost ordering +
Lucene41PostingsReader.cs:474-534 skip read) — and stay bit-identical to
the oracle.
"""
import numpy as np
import pandas as pd
import pytest

from lucenenet_spark import oracle
from lucenenet_spark.operators.index_build import IndexBuilder
from lucenenet_spark.operators.search import IndexSearcher
from lucenenet_spark.plans.query import BooleanQuery, TermQuery

from .conftest import hits

# asserts Spark plans or job counts: run the Spark runner
pytestmark = pytest.mark.usefixtures("spark_runner")

N = 6000
RARE_LO, RARE_HI = 3100, 3120  # 20 rare docs, docid-clustered


def _texts():
    out = []
    for i in range(N):
        parts = ["hotword", f"filler{i % 97}", f"pad{i % 13}"]
        if RARE_LO <= i < RARE_HI:
            parts.append("rareword")
        out.append(" ".join(parts))
    return out


@pytest.fixture(scope="module")
def skip_index(spark, tmp_path_factory):
    texts = _texts()
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:08d}" for i in range(N)],
            "turn_idx": np.zeros(N, dtype=np.int32),
            "role": ["user"] * N,
            "text": texts,
            "tool": [None] * N,
            "ts": pd.Timestamp("2024-01-01"),
        }
    )
    out = str(tmp_path_factory.mktemp("skipidx") / "main")
    df = spark.createDataFrame(pdf).repartition(1)
    IndexBuilder(
        spark, out, n_buckets=4, n_segments=4, salt_target=10**9,
        input_clustered=False,
    ).build(df)
    return out, texts


def test_and_hot_rare_prunes_to_rare_ranges(spark, skip_index):
    idx, texts = skip_index
    # low threshold: the adaptive guard correctly skips pruning at this
    # corpus size; the test asserts the pruning mechanics themselves
    s = IndexSearcher(spark, idx, prune_min_postings=1)
    keys = [("text", "hotword"), ("text", "rareword")]
    all_blocks = s._blocks_for(keys)
    pruned = s._conjunction_prune(all_blocks, keys)
    n_all = all_blocks.count()
    n_pruned = pruned.count()
    n_rare_blocks = s._blocks_for([("text", "rareword")]).count()
    # hot alone is ~N/128 blocks; pruned total must be O(rare blocks)
    assert n_all > 40
    assert n_pruned <= n_rare_blocks + 4, (n_all, n_pruned, n_rare_blocks)


def test_and_hot_rare_parity(spark, skip_index):
    idx, texts = skip_index
    oidx = oracle.build_index(texts)
    s = IndexSearcher(spark, idx)
    q = BooleanQuery(must=(TermQuery(term="hotword"), TermQuery(term="rareword")))
    want = oracle.top_k(
        oracle.boolean_scores(oidx, must=["hotword", "rareword"]), 25
    )
    got = hits(s.search(q, 25))
    assert got == want
    # bulk path too (force with a tiny threshold)
    s2 = IndexSearcher(spark, idx, prune_min_postings=1)
    got2 = hits(s2.search(q, 25))
    assert got2 == want
