"""Physical-plan shape guards: the layout's pruning properties must stay in
the plan (bucket-dir partition pruning, term row-group pushdown, pruned
read schema, TakeOrderedAndProject top-k) — the things .explain is read
for in BENCH.md, locked against regressions."""
import io
from contextlib import redirect_stdout

import pytest

from lucenenet_spark.plans.query import TermQuery

# asserts Spark plans or job counts: run the Spark runner
pytestmark = pytest.mark.usefixtures("spark_runner")


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_term_scan_prunes_buckets_and_terms(searcher):
    blocks = searcher._blocks_for([("text", "popcorn")])
    plan = _plan(blocks)
    # dir-level partition pruning on the term-hash bucket
    assert "PartitionFilters" in plan and "bucket" in plan
    # term equality reaches the parquet row-group stats
    assert "PushedFilters" in plan
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "term" in pushed
    # the heavy binary payload column is NOT read when only metadata is used
    meta_plan = _plan(
        blocks.select("field", "term", "block_no", "first_docid", "last_docid")
    )
    schema_line = next(
        l for l in meta_plan.splitlines() if "ReadSchema" in l
    )
    assert "docids_enc" not in schema_line and "pos_enc" not in schema_line


def test_topk_is_take_ordered(searcher):
    plan = _plan(searcher.search(TermQuery(term="popcorn"), 10))
    assert "TakeOrderedAndProject" in plan


def test_pos_enc_not_read_for_term_queries(searcher):
    """Non-phrase scoring never reads the positions payload (columnar
    pruning keeps the DOCS_AND_FREQS cost for BM25 queries)."""
    scored = searcher.scores(TermQuery(term="popcorn"))
    plan = _plan(scored)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "pos_enc" not in line, line
