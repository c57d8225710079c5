"""Distributed-semantics tests: N-vs-1 partition equivalence, resume,
skew salting, and the CheckIndex validation job.

Models the reference's TestTopDocsMerge/TestShardSearching oracle pattern
(SURVEY.md §5.6): the sharded result must equal the single-shard result.
"""
import os
import time

import numpy as np
from pyspark.sql import functions as F

from lucenenet_spark import oracle
from lucenenet_spark.operators.index_build import IndexBuilder, load_manifest
from lucenenet_spark.plans.query import BooleanQuery, TermQuery
from lucenenet_spark.validate import check_index

from .conftest import N_DOCS, hits

QUERIES = [
    TermQuery(term="popcorn"),
    TermQuery(term="rare12"),
    BooleanQuery(must=(TermQuery(term="popcorn"), TermQuery(term="common3"))),
    BooleanQuery(should=(TermQuery(term="word7"), TermQuery(term="word8"), TermQuery(term="popcorn"))),
    BooleanQuery(should=(TermQuery(term="popcorn"),), must_not=(TermQuery(term="word7"),)),
]


def test_nseg_equals_1seg(searcher, searcher_1seg):
    for q in QUERIES:
        a = hits(searcher.search(q, 20))
        b = hits(searcher_1seg.search(q, 20))
        assert a == b, q


def test_manifests_agree(index_dir, index_dir_1seg):
    a, b = load_manifest(index_dir), load_manifest(index_dir_1seg)
    for k in ["max_doc", "doc_count", "sum_ttf", "avgdl"]:
        assert a[k] == b[k], k


def test_docids_stable_order(searcher, index_dir, corpus_pdf):
    """docid == dense rank over (conv_id, turn_idx) — the per-row invariant."""
    docs = (
        searcher.docs()
        .select("docid", "conv_id", "turn_idx")
        .orderBy("docid")
        .toPandas()
    )
    assert docs["docid"].tolist() == list(range(len(corpus_pdf)))
    assert docs["conv_id"].tolist() == corpus_pdf["conv_id"].tolist()
    assert docs["turn_idx"].tolist() == corpus_pdf["turn_idx"].tolist()


def test_hot_term_is_salted(spark, index_dir, oracle_index):
    """'popcorn' (df >> salt_target=60) must split into multiple salt groups."""
    p = spark.read.parquet(os.path.join(index_dir, "postings"))
    salts = (
        p.filter(F.col("term") == "popcorn").select("salt").distinct().count()
    )
    assert salts > 1, "hot term not salted"
    # and a cold (df=1) term is not
    cold = next(t for t, pl in oracle_index.postings.items() if len(pl) == 1)
    assert p.filter(F.col("term") == cold).select("salt").distinct().count() == 1


def test_salted_term_parity(searcher, oracle_index):
    """Salted posting lists must still score/rank identically."""
    got = hits(searcher.search(TermQuery(term="popcorn"), 30))
    want = oracle.top_k(oracle.term_scores(oracle_index, "popcorn"), 30)
    assert got == want


def test_resume_skips_completed_stages(spark, index_dir):
    """Re-running build() on a committed index dir is a fast no-op."""
    from lucenenet_spark.datagen import transcripts_spark

    df = transcripts_spark(spark, N_DOCS, partitions=4)
    t0 = time.time()
    IndexBuilder(spark, index_dir, n_buckets=8, n_segments=8, salt_target=60).build(df)
    assert time.time() - t0 < 30, "resume re-ran completed stages"


def test_checkpoints_have_lineage_and_rates(spark, index_dir):
    cp = spark.read.parquet(os.path.join(index_dir, "build_checkpoints")).toPandas()
    assert len(cp) >= 1
    assert (cp["status"] == "done").all()
    assert (cp["postings_per_sec"] > 0).all()
    assert cp["lineage"].str.contains("build_id").all()


def test_clustered_input_fast_path_identical(
    spark, index_dir, corpus_pdf, oracle_index, tmp_path
):
    """A conv-sorted parquet input takes the no-shuffle ingest path and must
    produce an index identical in docids, stats, and scores."""
    from lucenenet_spark.operators.search import IndexSearcher

    src = str(tmp_path / "sorted_src")
    sorted_df = spark.createDataFrame(corpus_pdf)  # already (conv,turn) sorted
    sorted_df.repartitionByRange(3, "conv_id", "turn_idx").write.parquet(src)
    out = str(tmp_path / "idx_fast")
    b = IndexBuilder(spark, out, n_buckets=4, n_segments=4, salt_target=60)
    b.build(spark.read.parquet(src), build_id="fast")
    info = b._stage_info("staging")
    s = IndexSearcher(spark, out)
    from lucenenet_spark import oracle as _o

    for term in ["popcorn", "hello", "word7"]:
        got = hits(s.search(TermQuery(term=term), 15))
        assert got == _o.top_k(_o.term_scores(oracle_index, term), 15), term
    docs = s.docs().select("docid", "conv_id").orderBy("docid").toPandas()
    assert docs["conv_id"].tolist() == corpus_pdf["conv_id"].tolist()


def test_unclustered_input_detected_and_shuffled(spark, corpus_pdf, tmp_path):
    """Round-robin partitioned input must fail the cluster check and still
    build correctly through the range-shuffle path."""
    from lucenenet_spark.operators.index_build import IndexBuilder as IB

    shuffled = spark.createDataFrame(
        corpus_pdf.sample(frac=1.0, random_state=7)
    ).repartition(5)
    b = IB(spark, str(tmp_path / "x"), n_segments=4)
    assert not b._input_is_clustered(shuffled)


def test_check_index_passes(spark, index_dir):
    report = check_index(spark, index_dir)
    assert report["ok"], report


def _copy_index(index_dir: str, dst: str) -> str:
    """A copy of an index whose manifest points at the copy's tables."""
    import json
    import shutil

    shutil.copytree(index_dir, dst)
    mpath = os.path.join(dst, "_manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    # manifest paths are absolute — rewrite to the copy
    m["tables"] = {k: v.replace(index_dir, dst) for k, v in m["tables"].items()}
    m["stagings"] = [
        dict(sg, path=sg["path"].replace(index_dir, dst)) for sg in m["stagings"]
    ]
    with open(mpath, "w") as f:
        json.dump(m, f)
    return dst


def test_check_index_catches_corruption(spark, index_dir, tmp_path):
    """Tamper with the embedded terms dictionary (block_no=-2 stat rows) —
    the validator must notice the df mismatch (CheckIndex.cs:827)."""
    import shutil

    broken = _copy_index(index_dir, str(tmp_path / "broken"))
    p = spark.read.parquet(os.path.join(index_dir, "postings"))
    bad = p.withColumn(
        "count",
        F.when(
            (F.col("block_no") == -2) & (F.col("term") == "popcorn"),
            F.col("count") + 1,
        ).otherwise(F.col("count")),
    )
    bad.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(broken, "postings_bad")
    )
    shutil.rmtree(os.path.join(broken, "postings"))
    os.rename(os.path.join(broken, "postings_bad"), os.path.join(broken, "postings"))
    report = check_index(spark, broken)
    assert not report["term_stats"]["ok"]


def _plant(index_dir: str, dst: str, pick, fault) -> str:
    """A copy of an index whose first posting block row `pick` accepts
    gets the columns `fault(row)` returns, rewritten in place with pyarrow
    (the values are hand-packed at bit width 8: [8][one byte a value])."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    _copy_index(index_dir, dst)
    for path in sorted(glob.glob(os.path.join(dst, "postings", "*", "*.parquet"))):
        t = pq.ParquetFile(path).read()
        rows = t.to_pylist()
        for i, r in enumerate(rows):
            if r["block_no"] >= 0 and pick(r):
                rows[i] = {**r, **fault(r)}
                pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), path)
                crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
                return dst
    raise AssertionError("no posting block to plant the fault in")


def _block_flags(report) -> dict:
    return {k: v for k, v in report["block_payloads"].items() if k not in ("ok", "blocks")}


def test_check_index_catches_descending_positions(spark, index_dir, tmp_path):
    """A block whose positions descend within one posting's run (a posting
    with tf >= 2) fails the positions check and nothing else
    (DOCS_AND_FREQS_AND_POSITIONS: each run strictly ascends)."""
    broken = _plant(
        index_dir, str(tmp_path / "broken"),
        lambda r: r["pos_enc"] and r["count"] < r["sum_tf"] <= 255,
        lambda r: {"pos_enc": bytes([8]) + bytes(range(r["sum_tf"] - 1, -1, -1))},
    )
    report = check_index(spark, broken)
    assert not report["ok"]
    assert _block_flags(report) == {
        "bad_mono": 0, "bad_meta": 0, "bad_bound": 0, "bad_tf": 0, "bad_pos": 1,
    }


def test_check_index_catches_empty_offset(spark, tmp_path):
    """A block with an offset whose end is not past its start fails the
    offsets check and nothing else (CheckIndex.cs offset validations)."""
    from lucenenet_spark.datagen import transcripts_spark

    out = str(tmp_path / "offsets")
    IndexBuilder(
        spark, out, n_buckets=2, n_segments=1,
        index_options="docs_freqs_positions_offsets",
    ).build(transcripts_spark(spark, 200, partitions=2))
    assert check_index(spark, out)["ok"]
    # occurrence i gets start i, length 0: starts still ascend, end == start
    broken = _plant(
        out, str(tmp_path / "broken"),
        lambda r: r["off_enc"] and r["sum_tf"] <= 127,
        lambda r: {"off_enc": bytes([8]) + bytes(
            v for i in range(r["sum_tf"]) for v in (i, 0)
        )},
    )
    report = check_index(spark, broken)
    assert not report["ok"]
    assert _block_flags(report) == {
        "bad_mono": 0, "bad_meta": 0, "bad_bound": 0, "bad_tf": 0, "bad_pos": 1,
    }


def test_docs_freqs_index_options(spark, corpus_pdf, oracle_index, tmp_path):
    """DOCS_AND_FREQS (no positions): ~smaller index, identical BM25
    scores, phrase queries refused with a clear error; a merge of it (no
    position buffers to decode) keeps the scores and passes CheckIndex."""
    import pytest as _pytest

    from lucenenet_spark import oracle
    from lucenenet_spark.operators.index_build import IndexBuilder
    from lucenenet_spark.operators.search import IndexSearcher
    from lucenenet_spark.plans.query import PhraseQuery, TermQuery

    from .conftest import hits as _hits

    out = str(tmp_path / "nopos")
    IndexBuilder(
        spark, out, n_buckets=4, n_segments=4, salt_target=10**9,
        index_options="docs_freqs", input_clustered=False,
    ).build(spark.createDataFrame(corpus_pdf))
    s = IndexSearcher(spark, out)
    want = oracle.top_k(oracle.term_scores(oracle_index, "popcorn"), 10)
    assert _hits(s.search(TermQuery(term="popcorn"), 10)) == want
    with _pytest.raises(NotImplementedError):
        s.search(PhraseQuery(terms=("popcorn", "hello")), 5).collect()
    from lucenenet_spark.operators.merge import merge_segments

    merge_segments(spark, [out], out + "_merged", n_buckets=4)
    assert _hits(IndexSearcher(spark, out + "_merged").search(TermQuery(term="popcorn"), 10)) == want
    assert check_index(spark, out + "_merged")["ok"]


def test_partial_chunking_bit_identical(spark, corpus_pdf, index_dir, tmp_path):
    """Forcing tiny per-row partial caps (every hot term splits into many
    staged rows) must leave the ENCODED postings bit-identical: merge-encode
    concatenates partials in first_docid order, so chunk boundaries are
    invisible downstream. Guards the flush-time row-size cap that keeps the
    encode scan's columnar batches bounded as the corpus grows."""
    from lucenenet_spark.datagen import transcripts_spark

    out = str(tmp_path / "chunked")
    df = transcripts_spark(spark, N_DOCS, partitions=4)
    IndexBuilder(
        spark, out, n_buckets=8, n_segments=8, salt_target=60,
        max_partial_postings=7, max_partial_positions=11,
    ).build(df)

    # the cap engaged: some (pid, term) now has >1 staged partial row
    stg = spark.read.parquet(os.path.join(out, "staging"))
    multi = (
        stg.filter(F.col("local_rank") == -2)
        .groupBy("pid", "field", "term")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert multi > 0

    cols = ["field", "term", "salt", "block_no", "first_docid"]

    def rows(path):
        # 'meta' rows carry per-task encode telemetry (task splits differ
        # by design); everything else must match bit for bit
        return (
            spark.read.parquet(os.path.join(path, "postings"))
            .filter(F.col("field") != "meta")
            .orderBy(*cols)
            .toPandas()
        )

    a, b = rows(index_dir), rows(out)
    assert len(a) == len(b)
    for c in a.columns:
        assert a[c].equals(b[c]), c


def _spy_ingest_passes(monkeypatch) -> list:
    """Record the `clustered` flag of every Spark ingest pass."""
    calls: list[bool] = []
    orig = IndexBuilder._ingest_pass

    def spy(self, transcripts, clustered, lineage):
        calls.append(clustered)
        return orig(self, transcripts, clustered, lineage)

    monkeypatch.setattr(IndexBuilder, "_ingest_pass", spy)
    return calls


def test_clustered_order_failure_falls_back(spark, corpus_pdf, tmp_path, monkeypatch):
    """input_clustered=True over unordered input: the kernel's order check
    fails the clustered pass, which (and only which) reruns it shuffled."""
    import json

    calls = _spy_ingest_passes(monkeypatch)
    shuffled = spark.createDataFrame(
        corpus_pdf.sample(frac=1.0, random_state=7)
    ).repartition(3)
    b = IndexBuilder(spark, str(tmp_path / "x"), n_buckets=4, n_segments=4,
                     input_clustered=True)
    m = b.build(shuffled)
    assert calls == [True, False]
    assert m["max_doc"] == len(corpus_pdf)
    lineage = json.loads(b._stage_info("staging")["metas"][0]["lineage"])
    assert lineage["clustered"] is False and "verification" in lineage["note"]


def test_clustered_pass_other_error_propagates(spark, corpus_pdf, tmp_path, monkeypatch):
    """Planted: a non-verification error raised in the clustered pass's
    Python workers propagates; it is not rerun as a shuffled pass."""
    from lucenenet_spark.operators import index_build

    def planted_make_ingest(**_):
        def kernel(it, pid=None):
            raise OSError("planted disk failure")
            yield  # a generator, like the real kernel

        return kernel

    monkeypatch.setattr(index_build, "make_ingest", planted_make_ingest)
    calls = _spy_ingest_passes(monkeypatch)
    import pytest

    with pytest.raises(Exception, match="planted disk failure"):
        IndexBuilder(spark, str(tmp_path / "x"), n_buckets=4, n_segments=4,
                     input_clustered=True).build(spark.createDataFrame(corpus_pdf))
    assert calls == [True]
