"""Multi-term queries expand against the terms dictionary in code-point
order: a prefix bound must hold every term that starts with the prefix,
whatever its next character (U+FFFF and the supplementary planes sort
after every BMP character below them in UTF-8)."""
import pandas as pd
import pytest

from lucenenet_spark.operators.index_build import IndexBuilder
from lucenenet_spark.operators.search import IndexSearcher
from lucenenet_spark.plans.query import (
    ConstantScoreQuery,
    FilteredQuery,
    MatchAllQuery,
    PrefixFilter,
    PrefixQuery,
    WildcardQuery,
)

from .conftest import forced_build_path, forced_runner

TEXTS = ["ab\U00020000", "abc", "ab\uffff", "abd\U0001F600", "zz"]


@pytest.fixture(scope="module")
def astral(spark, tmp_path_factory):
    n = len(TEXTS)
    pdf = pd.DataFrame({
        "conv_id": [f"conv-{i:08d}" for i in range(n)],
        "turn_idx": [0] * n,
        "role": ["user"] * n,
        "text": TEXTS,
        "tool": [None] * n,
        "ts": pd.to_datetime("2024-01-01"),
    })
    out = str(tmp_path_factory.mktemp("astral") / "idx")
    with forced_build_path("in_process"):
        IndexBuilder(spark, out, n_buckets=2, analyzer="whitespace").build(pdf)
    return IndexSearcher(spark, out)


@pytest.mark.parametrize("runner", ["local", "spark"])
@pytest.mark.parametrize("prefix,want", [("ab", 4), ("abd", 1), ("ab\uffff", 1), ("z", 1), ("q", 0)])
def test_prefix_matches_every_next_character(astral, runner, prefix, want):
    shapes = [
        PrefixQuery(prefix=prefix),
        WildcardQuery(pattern=prefix + "*"),
        ConstantScoreQuery(filter=PrefixFilter(prefix=prefix)),
        FilteredQuery(query=MatchAllQuery(), filter=PrefixFilter(prefix=prefix)),
    ]
    with forced_runner(runner):
        got = [sorted(r["docid"] for r in astral.search(q, 10).collect()) for q in shapes]
    assert [len(g) for g in got] == [want] * len(shapes), got
    assert all(g == got[0] for g in got)
    assert sorted(TEXTS[d] for d in got[0]) == sorted(t for t in TEXTS if t.startswith(prefix))
