"""Filter family wave 2: Prefix/NumericRange/FieldCacheTerms/
FieldCacheRange/DocTermOrdsRange/CachingWrapper filters — docid-set
parity against directly-computed sets (Search/PrefixFilter.cs,
NumericRangeFilter.cs, FieldCacheTermsFilter.cs, FieldCacheRangeFilter.cs,
DocTermOrdsRangeFilter.cs, CachingWrapperFilter.cs)."""
import pytest
from pyspark.sql import functions as F

from lucenenet_spark.plans.query import (
    CachingWrapperFilter,
    ConstantScoreQuery,
    DocTermOrdsRangeFilter,
    FieldCacheRangeFilter,
    FieldCacheTermsFilter,
    NumericRangeFilter,
    PrefixFilter,
    PrefixQuery,
)

# asserts Spark plans or job counts: run the Spark runner
pytestmark = pytest.mark.usefixtures("spark_runner")


def _ids(df):
    return sorted(r["docid"] for r in df.select("docid").collect())


def _topk_limit(df) -> int:
    """The TakeOrderedAndProject limit of df's executed plan (read from
    the plan only; no job runs)."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    found = re.findall(r"TakeOrderedAndProject\(limit=(\d+)", plan)
    assert found, plan
    return int(found[0])


def test_huge_k_is_capped_at_max_doc(searcher):
    """A top-k of 10**9 must not size Spark's top-k selector by k: every
    top-k entry point caps k at maxDoc (a 10**9-slot selector kills the
    Spark JVM)."""
    from lucenenet_spark.operators import spans
    from lucenenet_spark.plans.query import TermQuery

    q = ConstantScoreQuery(query=PrefixQuery(prefix="word1"))
    plans = [
        searcher.search(q, 10**9),
        searcher.search_after(q, 10**9, 1.0, 0),
        searcher.explain(TermQuery(term="popcorn"), 10**9),
        spans.span_search(searcher, spans.SpanTermQuery(term="popcorn"), 10**9),
    ]
    for df in plans:
        assert _topk_limit(df) <= searcher.max_doc


def test_prefix_filter_equals_prefix_query(searcher):
    got = _ids(
        searcher.search(
            ConstantScoreQuery(filter=PrefixFilter("text", "word1")),
            10**9,
        )
    )
    want = _ids(
        searcher.search(
            ConstantScoreQuery(query=PrefixQuery(prefix="word1")), 10**9
        )
    )
    assert got == want and got


def test_numeric_range_filter_bounds(searcher):
    docs = searcher.docs()
    for lo, hi, il, iu in [(1, 3, True, True), (1, 3, False, True),
                           (None, 2, True, False), (2, None, False, True)]:
        got = _ids(
            searcher._filter_docids(
                NumericRangeFilter("turn_idx", lo, hi, il, iu)
            )
        )
        cond = F.lit(True)
        c = F.col("turn_idx")
        if lo is not None:
            cond = cond & ((c >= lo) if il else (c > lo))
        if hi is not None:
            cond = cond & ((c <= hi) if iu else (c < hi))
        want = _ids(docs.filter(cond))
        assert got == want and got


def test_fieldcache_terms_and_range(searcher):
    docs = searcher.docs()
    got = _ids(
        searcher._filter_docids(
            FieldCacheTermsFilter("role", ("user", "tool"))
        )
    )
    want = _ids(docs.filter(F.col("role").isin(["user", "tool"])))
    assert got == want and got

    got = _ids(
        searcher._filter_docids(
            FieldCacheRangeFilter("role", "t", "v", True, False)
        )
    )
    want = _ids(
        docs.filter((F.col("role") >= "t") & (F.col("role") < "v"))
    )
    assert got == want and got


def test_doc_term_ords_range(searcher):
    # over the keyword postings of 'tool' (the multi-valued case is the
    # entry index's labels field, driver-gated as doc_term_ords_range)
    got = _ids(
        searcher._filter_docids(
            DocTermOrdsRangeFilter("tool", "b", "e", True, False)
        )
    )
    docs = searcher.docs()
    want = _ids(
        docs.filter((F.col("tool") >= "b") & (F.col("tool") < "e"))
    )
    assert got == want and got


def test_caching_wrapper_filter(searcher):
    inner = FieldCacheTermsFilter("role", ("user",))
    wrapped = CachingWrapperFilter(filter=inner)
    first = searcher._filter_docids(wrapped)
    second = searcher._filter_docids(wrapped)
    assert first is second  # the cached DataFrame is reused
    assert _ids(first) == _ids(searcher._filter_docids(inner))
