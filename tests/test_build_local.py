"""In-process NRT builds and merges against their Spark twins: the same
tables (schemas and doc rows), the same answers, and no Spark job beyond
the batch collect and the delete probe."""
import os

import numpy as np
import pandas as pd
import pytest

from lucenenet_spark.operators.deletes import DeleteLog
from lucenenet_spark.operators.index_build import IndexBuilder, docs_view, load_manifest
from lucenenet_spark.operators.merge import merge_segments
from lucenenet_spark.operators.search import IndexSearcher
from lucenenet_spark.plans.query import BooleanQuery, MatchAllQuery, TermQuery
from lucenenet_spark.streaming.nrt import NRTIndex
from lucenenet_spark.validate import check_index

from .conftest import count_jobs, forced_build_path, hits

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string,"
    " ts timestamp"
)
QUERIES = [
    TermQuery(term="popcorn"),
    TermQuery(term="sentinelupdated"),
    BooleanQuery(must=(TermQuery(term="popcorn"), TermQuery(term="common3"))),
    BooleanQuery(should=(TermQuery(term="word7"), TermQuery(term="popcorn"))),
    TermQuery(field="role", term="user"),
]
STATS = ["max_doc", "doc_count", "sum_ttf", "avgdl", "fields"]
N_ADD = 300


def _stats(manifest: dict) -> dict:
    return {k: manifest[k] for k in STATS}


@pytest.fixture(scope="module")
def nrt_runs(spark, corpus_pdf, tmp_path_factory):
    """The same add -> update_documents -> compact under each build path.
    The update re-texts three conversations of the added batch and drops
    each one's last turn."""
    src = tmp_path_factory.mktemp("nrt_batches")
    add = corpus_pdf.head(N_ADD)
    convs = sorted(add["conv_id"].unique())[1:4]
    upd = add[add["conv_id"].isin(convs)]
    upd = upd[upd.duplicated("conv_id", keep="last")].assign(
        text="replacement popcorn sentinelupdated"
    )
    for name, pdf in [("add", add), ("upd", upd)]:
        spark.createDataFrame(pdf, SCHEMA).write.parquet(str(src / name))
    read = lambda name: spark.read.schema(SCHEMA).parquet(str(src / name))  # noqa: E731
    out = {}
    for path in ("in_process", "spark"):
        base = str(tmp_path_factory.mktemp(f"nrt_{path}") / "idx")
        with forced_build_path(path):
            idx = NRTIndex(
                spark, base, n_buckets=4, n_segments=4, salt_target=60,
                keyword_fields=("role", "tool", "conv_id"),
            )
            idx.process_batch(read("add"), 0)
            with count_jobs(spark) as jobs:
                idx.update_documents(read("upd"), 1, "conv_id")
                idx.compact()
        out[path] = {"idx": idx, "jobs": jobs["jobs"]}
    # a single-turn conversation drops out of the update: its doc stays live
    out["live"] = N_ADD - int(add["conv_id"].isin(set(upd["conv_id"])).sum()) + len(upd)
    return out


def test_nrt_paths_agree(spark, nrt_runs):
    a, b = (nrt_runs[p]["idx"].searcher() for p in ("in_process", "spark"))
    assert a.manifest["in_process"] and not b.manifest["in_process"]
    assert _stats(a.manifest) == _stats(b.manifest)
    assert a.count(MatchAllQuery()) == b.count(MatchAllQuery()) == nrt_runs["live"]
    for q in QUERIES:
        assert hits(a.search(q, 30)) == hits(b.search(q, 30)), q
    for p in ("in_process", "spark"):
        report = check_index(spark, nrt_runs[p]["idx"].segments()[0])
        assert report["ok"], (p, report)


def test_small_update_and_compact_launch_one_job(nrt_runs):
    """update_documents + compact in-process: the batch collect is the only
    Spark job (the victims probe decodes the keys' postings on the
    driver)."""
    assert nrt_runs["in_process"]["jobs"] == 1


@pytest.fixture(scope="module")
def mixed(spark, corpus_pdf, tmp_path_factory):
    """The corpus' two halves as segments: the first built both in-process
    and on Spark, the second on Spark; a few docs deleted from each (one log
    written with pyarrow, one by Spark); then [in-process, Spark] merged
    both in-process and on Spark."""
    root = tmp_path_factory.mktemp("mixed")
    d = {n: str(root / n) for n in ["a_local", "a_spark", "b_spark", "m_local", "m_spark"]}
    half = len(corpus_pdf) // 2
    first = spark.createDataFrame(corpus_pdf.iloc[:half], SCHEMA)
    second = spark.createDataFrame(corpus_pdf.iloc[half:], SCHEMA)
    kw = dict(n_buckets=4, n_segments=4, salt_target=60)
    IndexBuilder(spark, d["a_local"], **kw).build(first.toPandas())
    IndexBuilder(spark, d["a_spark"], **kw).build(first)
    IndexBuilder(spark, d["b_spark"], **kw).build(second)
    DeleteLog(spark, d["a_local"]).delete_docids(np.array([0, 5, 7]))
    DeleteLog(spark, d["b_spark"]).delete_docids(
        spark.createDataFrame([(1,), (4,)], "docid long")
    )
    for path, out in (("in_process", "m_local"), ("spark", "m_spark")):
        with forced_build_path(path):
            merge_segments(
                spark, [d["a_local"], d["b_spark"]], d[out], n_buckets=4, salt_target=60
            )
    return d


def test_in_process_tables_read_like_spark_tables(spark, mixed):
    def schema(name, table):
        return spark.read.parquet(os.path.join(mixed[name], table)).schema

    for t in ["staging", "postings", "field_stats", "build_checkpoints"]:
        assert schema("a_local", t) == schema("a_spark", t), t
    assert schema("a_local", "deletes/gen-000000") == schema(
        "b_spark", "deletes/gen-000000"
    )
    for t in ["docs", "postings", "field_stats", "build_checkpoints"]:
        assert schema("m_local", t) == schema("m_spark", t), t


def test_docs_view_rows_agree(spark, mixed):
    cols = ["docid", "conv_id", "turn_idx", "ts", "field_length", "norm_byte"]

    def view(name):
        m = load_manifest(mixed[name])
        return docs_view(spark, m).select(*cols).orderBy("docid").toPandas()

    pd.testing.assert_frame_equal(view("a_local"), view("a_spark"))
    pd.testing.assert_frame_equal(view("m_local"), view("m_spark"))


def test_mixed_merges_agree(spark, mixed):
    a, b = IndexSearcher(spark, mixed["m_local"]), IndexSearcher(spark, mixed["m_spark"])
    assert a.manifest["in_process"] and not b.manifest["in_process"]
    assert a.manifest["n_deletes_applied"] == 5
    assert _stats(a.manifest) == _stats(b.manifest)
    for q in QUERIES:
        assert hits(a.search(q, 30)) == hits(b.search(q, 30)), q
    for name in ("m_local", "m_spark"):
        report = check_index(spark, mixed[name])
        assert report["ok"], (name, report)
