"""A position query over one (field, term) key reduces in its slicing
tasks: every doc's positions sit in one block row (salts and segments
split docids into disjoint ranges), so a single-term span and a
PayloadTermQuery run with no shuffle before their top-k."""
import pytest

from lucenenet_spark import oracle
from lucenenet_spark.operators import spans
from lucenenet_spark.operators.index_build import IndexBuilder
from lucenenet_spark.operators.search import IndexSearcher
from lucenenet_spark.plans.query import PayloadTermQuery

from .conftest import hits

# asserts Spark plans or job counts: run the Spark runner
pytestmark = pytest.mark.usefixtures("spark_runner")


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_span_first_over_one_term_has_no_shuffle(searcher, oracle_index):
    # 'popcorn' is salted and spread over the index's 8 segments
    q = spans.SpanFirstQuery(match=spans.SpanTermQuery(term="popcorn"), end=5)
    df = spans.span_search(searcher, q, 20)
    want = oracle.top_k(spans.span_scores_oracle(oracle_index, q), 20)
    assert want and hits(df) == want
    assert "Exchange" not in _executed_plan(df)


def test_payload_term_has_no_shuffle(spark, tmp_path):
    from lucenenet_spark.datagen import transcripts_spark

    d = str(tmp_path / "pay")
    IndexBuilder(
        spark, d, n_buckets=2, n_segments=2, salt_target=20,
        payload_provider="position_float",
    ).build(transcripts_spark(spark, 100, partitions=2))
    df = IndexSearcher(spark, d).search(PayloadTermQuery(term="popcorn"), 10)
    assert hits(df)
    assert "Exchange" not in _executed_plan(df)
