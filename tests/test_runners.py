"""One plan, two runners: IndexSearcher.plan(q, k) decides every row
source, slicer, reducer, shuffle and the liveDocs mask; run_local runs the
tree on driver pandas frames and run_spark as Spark stages, with the same
kernels. Below LOCAL_MAX_POSTINGS a query starts no Spark job, and its
top-k is bit-identical to the Spark runner's."""
import os
import shutil

import numpy as np
import pytest

from lucenenet_spark.operators import index_build, spans
from lucenenet_spark.operators.index_build import IndexBuilder
from lucenenet_spark.operators.search import IndexSearcher
from lucenenet_spark.plans.parser import parse
from lucenenet_spark.plans.query import (
    BooleanFilter,
    BooleanQuery,
    ConstantScoreQuery,
    DisMaxQuery,
    FilteredQuery,
    FuzzyQuery,
    MultiPhraseQuery,
    PayloadTermQuery,
    PhraseQuery,
    PrefixFilter,
    PrefixQuery,
    RegexpQuery,
    TermQuery,
    TermRangeQuery,
    TermsFilter,
    WildcardQuery,
)

from .conftest import count_jobs, forced_build_path, forced_runner, hits, phrase_pairs

def _split(pdf, n: int) -> list:
    return [pdf.iloc[len(pdf) * i // n : len(pdf) * (i + 1) // n] for i in range(n)]


SIMS = ["bm25", "classic", "sweetspot:1.5:2", "lmd", "lmjm", "dfr_gb2", "ib_spl"]


def _families(t1: str, t2: str) -> dict:
    """Every query family the local runner covers, over terms the test
    corpus holds (t1 t2: its most widespread adjacent pair)."""
    near = spans.SpanNearQuery(
        clauses=(spans.SpanTermQuery(term=t1), spans.SpanTermQuery(term=t2)), slop=1
    )
    pop = TermsFilter(terms=(("text", "popcorn"),))

    def banned(q):
        return BooleanQuery(must=(TermQuery(term=t1),), must_not=(q,))

    return {
        "term": parse("popcorn"),
        "and": parse("+popcorn +common3"),
        "or": parse(f"popcorn word7 common3 {t2}"),
        "not": parse("+popcorn -common3"),
        "field": parse("+role:tool +popcorn"),
        "dismax": DisMaxQuery(
            queries=(TermQuery(term="popcorn"), TermQuery(term="common3")), tie_breaker=0.25
        ),
        "nested": BooleanQuery(
            should=(parse("+popcorn +common3"), PhraseQuery(terms=(t1, t2)))
        ),
        "phrase": PhraseQuery(terms=(t1, t2)),
        "phrase_sloppy": PhraseQuery(terms=(t1, t2), slop=3),
        "multi_phrase": MultiPhraseQuery(term_arrays=((t1,), (t2, "popcorn"))),
        "banned_phrase": BooleanQuery(
            must=(TermQuery(term=t1),), must_not=(PhraseQuery(terms=(t1, t2)),)
        ),
        "span": near,
        "banned_span": BooleanQuery(must=(TermQuery(term=t1),), must_not=(near,)),
        "constant_term": ConstantScoreQuery(query=TermQuery(term=t1), boost=1.5),
        "constant_or": ConstantScoreQuery(query=parse(f"popcorn common3 {t2}")),
        "constant_and": BooleanQuery(should=(
            ConstantScoreQuery(query=parse("+popcorn +common3"), boost=2.0),
            TermQuery(term=t2),
        )),
        "constant_terms_filter": ConstantScoreQuery(
            filter=TermsFilter(terms=(("text", "popcorn"), ("text", t2), ("role", "tool"))),
            boost=0.5,
        ),
        "filtered_terms_filter": FilteredQuery(
            query=parse("popcorn common3"),
            filter=TermsFilter(terms=(("text", t1), ("text", "common3"))),
        ),
        "bool_filter": ConstantScoreQuery(filter=BooleanFilter(
            should=(pop, TermsFilter(terms=(("text", t1),))),
            must_not=(TermsFilter(terms=(("text", "common3"),)),),
        )),
        "banned_nested": banned(parse("popcorn common3")),
        "banned_constant": banned(ConstantScoreQuery(query=TermQuery(term="popcorn"))),
        "banned_payload_near": banned(spans.PayloadNearQuery(clauses=near.clauses, slop=1)),
        **MULTI_TERM_SHAPES,
        "span_multiterm_near": spans.SpanNearQuery(clauses=(
            spans.SpanMultiTermQueryWrapper(query=PrefixQuery(prefix=t1[:3])),
            spans.SpanTermQuery(term=t2),
        ), slop=4),
        "payload_term": PayloadTermQuery(term="popcorn"),
        "payload_near": spans.PayloadNearQuery(clauses=near.clauses, slop=1),
    }


# every multi-term shape: each expands on the driver to a TermsFilter
MULTI_TERM_SHAPES = {
    "prefix": PrefixQuery(prefix="word1", boost=1.5),
    "wildcard": WildcardQuery(pattern="wor?7*"),
    "regexp_complement": RegexpQuery(pattern="word.*&~(word7)"),
    "term_range": TermRangeQuery(lower="common", upper="popcorn", include_upper=False),
    "fuzzy": FuzzyQuery(term="popcorm", max_edits=1),
    "prefix_filter": FilteredQuery(
        query=parse("popcorn common3"), filter=PrefixFilter(prefix="word"),
    ),
}


@pytest.fixture(scope="module")
def families(corpus_pdf, oracle_index):
    [(t1, t2)] = phrase_pairs(corpus_pdf, oracle_index)
    return _families(t1, t2)


@pytest.fixture(scope="module")
def three_segments(corpus_pdf, spark, tmp_path_factory):
    """The test corpus as a 3-segment payload index, each third built in
    process."""
    base = tmp_path_factory.mktemp("three")
    dirs = []
    with forced_build_path("in_process"):
        for i, part in enumerate(_split(corpus_pdf, 3)):
            d = str(base / f"seg{i}")
            IndexBuilder(
                spark, d, n_buckets=4, n_segments=2, salt_target=40,
                payload_provider="position_float",
            ).build(part.reset_index(drop=True), build_id=f"seg{i}")
            dirs.append(d)
    return dirs


@pytest.fixture(scope="module")
def three_deleted(three_segments, spark, tmp_path_factory):
    """The 3-segment index with every 5th doc deleted (some of them top
    hits of the families above)."""
    base = tmp_path_factory.mktemp("three_del")
    dirs = [str(base / os.path.basename(d)) for d in three_segments]
    for src, dst in zip(three_segments, dirs):
        shutil.copytree(src, dst)
    s = IndexSearcher(spark, dirs)
    s.delete_docids(np.arange(0, s.max_doc, 5))
    return dirs


def _both(s: IndexSearcher, q, k: int = 10) -> dict:
    """The top-k under each runner (or the error it raised)."""
    out = {}
    for runner in ("local", "spark"):
        with forced_runner(runner):
            try:
                out[runner] = hits(s.search(q, k))
                assert s.last_plan.runner == runner
            except (NotImplementedError, ValueError, TypeError) as e:
                out[runner] = repr(e)
    return out


@pytest.mark.parametrize("sim", SIMS)
@pytest.mark.parametrize("layout", ["three", "three_deleted"])
def test_runners_bit_identical(spark, families, three_segments, three_deleted, sim, layout):
    dirs = three_segments if layout == "three" else three_deleted
    s = IndexSearcher(spark, dirs, similarity=sim)
    matched = 0
    for name, q in families.items():
        got = _both(s, q)
        assert got["local"] == got["spark"], (name, got)
        matched += isinstance(got["local"], list) and bool(got["local"])
    assert matched >= 10  # the families match docs, not only empty sets


def test_runners_bit_identical_one_segment(searcher, families):
    """The salted 8-partition test index: no payloads, so both runners
    raise the same error for the payload families."""
    for name, q in families.items():
        got = _both(searcher, q, 20)
        assert got["local"] == got["spark"], (name, got)
    assert "payload_provider" in got["local"]


def test_spark_only_leaf_runs_on_spark(searcher):
    """A Spark-only leaf (here FilteredQuery's SQL `where`) sends the whole
    plan to the Spark runner, also as the one row source of a boolean,
    whose reducer then runs in the slicing tasks."""
    q = BooleanQuery(should=(FilteredQuery(
        query=ConstantScoreQuery(query=TermQuery(term="popcorn"), boost=2.0),
        where="docid >= 0",
    ),))
    got = hits(searcher.search(q, 1000))
    assert searcher.last_plan.runner == "spark"
    want = sorted(searcher.matching_docids([("text", "popcorn")]))
    assert [d for d, _ in got] == want and {sc for _, sc in got} == {np.float32(2.0)}


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_docid_clauses_plan_no_join(searcher):
    """Multi-term, constant-score and filter clauses meet in the range
    reducer: on an index with no deletes their Spark plans hold no join
    and no `distinct` aggregate, and their hits are the local runner's."""
    pop, hello = TermsFilter(terms=(("text", "popcorn"),)), TermsFilter(terms=(("text", "hello"),))
    qs = [
        PrefixQuery(prefix="word1"),
        ConstantScoreQuery(query=parse("popcorn hello common3")),
        FilteredQuery(query=parse("common3 word7"), filter=TermsFilter(
            terms=(("text", "popcorn"), ("text", "hello"))
        )),
        ConstantScoreQuery(filter=BooleanFilter(should=(pop, hello), must_not=(
            TermsFilter(terms=(("text", "common3"),)),
        ))),
    ]
    assert not searcher._has_deletes()
    with forced_runner("spark"):
        for q in qs:
            df = searcher.search(q, 50)
            plan = _executed_plan(df)
            assert "Join" not in plan and "HashAggregate" not in plan, (q, plan)
            got = hits(df)
            with forced_runner("local"):
                assert got == hits(searcher.search(q, 50))
            assert got, q


def test_constant_and_filter_queries_start_no_job(spark, searcher):
    """ConstantScore and a TermsFilter FilteredQuery are reducer clauses
    of the keys they read: once stats are warm, the local runner runs them
    with no Spark job."""
    tf = TermsFilter(terms=(("text", "common3"), ("role", "tool")))
    qs = [
        ConstantScoreQuery(query=TermQuery(term="popcorn"), boost=3.0),
        ConstantScoreQuery(filter=tf),
        FilteredQuery(query=TermQuery(term="popcorn"), filter=tf),
    ]
    for q in qs:
        searcher.search(q, 10).collect()  # warm the stats cache
    for q in qs:
        with count_jobs(spark) as jobs:
            assert searcher.search(q, 10).collect()
        assert searcher.last_plan.runner == "local" and jobs["jobs"] == 0, (q, jobs)


def test_multi_term_queries_start_no_job(spark, index_dir):
    """A multi-term query expands against the terms dictionary on the
    driver: each shape runs with no Spark job, cold (its expansion and
    stats read with pyarrow) and warm."""
    s = IndexSearcher(spark, index_dir)
    for q in MULTI_TERM_SHAPES.values():
        for _ in ("cold", "warm"):
            with count_jobs(spark) as jobs:
                assert s.search(q, 10).collect(), q
            assert s.last_plan.runner == "local" and jobs["jobs"] == 0, (q, jobs)


def test_term_suggesters_start_no_job(spark, searcher):
    """SlowFuzzy variants and the spellchecker walk the terms dictionary
    on the driver: a warm call starts no Spark job."""
    from lucenenet_spark.operators.fuzzylike import slow_fuzzy_variants
    from lucenenet_spark.operators.spellchecker import suggest_similar

    calls = [
        lambda: slow_fuzzy_variants(searcher, "popcorm", 0.5),
        lambda: slow_fuzzy_variants(searcher, "popcorm", 0.5, prefix_length=3),
        lambda: suggest_similar(searcher, "popcorm", 5),
    ]
    for call in calls:
        want = call()
        assert want
        with count_jobs(spark) as jobs:
            assert call() == want
        assert jobs["jobs"] == 0, jobs


def test_fuzzy_expands_once_per_searcher(spark, index_dir):
    """A FuzzyQuery collects its expanded terms once per searcher: a second
    search of it starts no job, and group_top_k of it (whose hit bound
    rewrites the query again) starts no more jobs than group_top_k of a
    ConstantScoreQuery over one term."""
    s = IndexSearcher(spark, index_dir)
    fuzzy = FuzzyQuery(term="popcorn", max_edits=1)
    const = ConstantScoreQuery(query=TermQuery(term="popcorn"))
    want = hits(s.search(fuzzy, 10))
    with count_jobs(spark) as jobs:
        assert hits(s.search(fuzzy, 10)) == want
    assert jobs["jobs"] == 0
    s.search(const, 10).collect()  # warm its stats too
    counts = {}
    for name, q in (("fuzzy", fuzzy), ("const", const)):
        with count_jobs(spark) as counts[name]:
            s.group_top_k(q).collect()
    assert counts["fuzzy"]["jobs"] <= counts["const"]["jobs"], counts


def test_banned_nodes_are_planned_unscored(spark, three_segments, monkeypatch, families):
    """A banned PayloadNearQuery, nested boolean, ConstantScore or
    FilteredQuery plans its docids only (DOCIDS_SCHEMA) and weighs
    nothing: the one SimWeight computed is the MUST term's."""
    from lucenenet_spark.operators.search import DOCIDS_SCHEMA

    s = IndexSearcher(spark, three_segments)
    must = families["banned_nested"].must[0]
    weighed = []
    real = s._sim_weights
    monkeypatch.setattr(
        s, "_sim_weights", lambda specs, *a: weighed.extend(specs) or real(specs, *a)
    )
    for x in (
        families["banned_payload_near"].must_not[0],
        families["banned_nested"].must_not[0],
        ConstantScoreQuery(query=parse("popcorn common3")),
        FilteredQuery(query=TermQuery(term="popcorn"), filter=TermsFilter(
            terms=(("text", "common3"),)
        )),
    ):
        weighed.clear()
        root = s.plan(BooleanQuery(must=(must,), must_not=(x,)), 10).root
        assert root.slices[-1].source.schema == DOCIDS_SCHEMA, x
        assert [keys for keys, _f, _b in weighed] == [[(must.field, must.term)]], x


def test_payload_guard_is_one_error(searcher):
    """PayloadTermQuery and PayloadNearQuery check their preconditions in
    one helper at planning, so both raise the same errors."""
    near = spans.PayloadNearQuery(
        clauses=(spans.SpanTermQuery(term="popcorn"), spans.SpanTermQuery(term="hello"))
    )
    msgs = []
    for q in (PayloadTermQuery(term="popcorn"), near):
        with pytest.raises(NotImplementedError) as e:
            searcher.plan(q, 10)
        msgs.append(str(e.value))
    assert msgs[0] == msgs[1]


def test_unknown_payload_function_raises_alike(spark, three_segments):
    s = IndexSearcher(spark, three_segments)
    near = spans.PayloadNearQuery(
        clauses=(spans.SpanTermQuery(term="popcorn"), spans.SpanTermQuery(term="hello")),
        function="median",
    )
    msgs = []
    for q in (PayloadTermQuery(term="popcorn", function="median"), near):
        with pytest.raises(ValueError) as e:
            s.plan(q, 10)
        msgs.append(str(e.value))
    assert msgs[0] == msgs[1]


QUERY_MIX_SHAPES = {
    "term_hot": ("popcorn", "local"),
    "term_mid": ("word7", "local"),
    "term_rare": ("word1999", "local"),
    "and_hot_mid": ("+popcorn +word7", "local"),
    "and_hot_rare": ("+popcorn +word1999", "local"),
    "or_mid4": ("word7 word11 word3 word40", "local"),
    "or_common8": (" ".join(f"common{i}" for i in range(8)), "local"),
    "not": ("+word7 -popcorn", "local"),
    "phrase": ('"common1 common2"', "local"),
    "phrase_sloppy": ('"common1 common2"~3', "local"),
    "prefix": ("rare1*", "local"),
    "field": ("+role:tool +word7", "local"),
}


@pytest.mark.parametrize("family", sorted(QUERY_MIX_SHAPES))
def test_query_mix_family_runner(searcher, family):
    """Each benchmark family shape records the runner it ran on: every
    one, the prefix expanded on the driver included, stays there."""
    qs, runner = QUERY_MIX_SHAPES[family]
    searcher.search(parse(qs), 10).collect()
    p = searcher.last_plan
    assert p.runner == runner, (qs, p.runner, p.sum_df)
    assert p.sum_df == sum(searcher.doc_freqs(p.keys).values())


def test_local_query_starts_no_job(spark, searcher, caplog):
    """Term, AND, NOT, phrase and a fetch of their hits: 0 Spark jobs,
    stats included; one debug line per query names the plan."""
    qs = ["popcorn", "+popcorn +common3", "+popcorn -common3", '"common1 common2"']
    for q in qs:
        searcher.search(parse(q), 10).collect()  # warm the stats cache
    with caplog.at_level("DEBUG", logger="lucenenet_spark"):
        with count_jobs(spark) as jobs:
            for q in qs:
                h = searcher.search(parse(q), 10)
                h.collect()
                searcher.fetch(h, hits_bound=10).collect()
    assert jobs["jobs"] == 0
    lines = [r.getMessage() for r in caplog.records if r.name == "lucenenet_spark"]
    assert len(lines) == len(qs) and all("runner=local" in m for m in lines)


def test_threshold_sends_large_queries_to_spark(searcher, monkeypatch):
    monkeypatch.setattr(index_build, "LOCAL_MAX_POSTINGS", 10)
    searcher.search(parse("popcorn"), 10).collect()
    assert searcher.last_plan.runner == "spark" and searcher.last_plan.sum_df > 10


def test_local_fetch_matches_spark_fetch(searcher):
    """fetch() of local hits reads docs with a pyarrow docid filter, in
    the Spark join's rows, columns and types."""
    got = {}
    for runner in ("local", "spark"):
        with forced_runner(runner):
            h = searcher.search(parse("popcorn common3"), 10)
            got[runner] = [
                [tuple(r) for r in searcher.fetch(h, b).orderBy("docid").collect()]
                for b in (10, None)
            ]
    assert got["local"] == got["spark"] and got["local"][0]


def _bucket_index(spark, base, n_segments: int) -> list[str]:
    """An index of 32 buckets per segment (33 dirs with the meta bucket:
    past Spark's 32-path parallel-listing threshold)."""
    from lucenenet_spark.datagen import generate_transcripts

    pdf = generate_transcripts(400)
    dirs = []
    with forced_build_path("in_process"):
        for i, part in enumerate(_split(pdf, n_segments)):
            d = str(base / f"seg{i}")
            IndexBuilder(spark, d, n_buckets=32).build(
                part.reset_index(drop=True), build_id=f"b{i}"
            )
            dirs.append(d)
    postings = index_build.load_manifest(dirs[0])["tables"]["postings"]
    assert len(os.listdir(postings)) > 32
    return dirs


@pytest.mark.parametrize("n_segments", [1, 8])
def test_warm_spark_search_lists_postings_once(spark, tmp_path, n_segments):
    """Each segment's postings table is listed once per searcher: a warm
    term search on the Spark runner is its one query job, a 2-term AND
    its two (slice + reduce), and term_stats() its two, with no listing
    job."""
    s = IndexSearcher(spark, _bucket_index(spark, tmp_path, n_segments))
    with forced_runner("spark"):
        for q in ("popcorn", "+popcorn +common3"):
            s.search(parse(q), 10).collect()  # warm
        for q, want in (("popcorn", 1), ("+popcorn +common3", 2)):
            with count_jobs(spark) as jobs:
                assert s.search(parse(q), 10).collect()
            assert jobs["jobs"] == want, (q, jobs)
    # term_stats() groups the same listing's stat rows: its scan and its
    # aggregate, whatever the segment count
    s.term_stats().collect()
    with count_jobs(spark) as jobs:
        assert s.term_stats().collect()
    assert jobs["jobs"] == 2, jobs


def test_nrt_update_delete_phase_starts_no_job(spark, tmp_path, monkeypatch):
    """update_documents' victims probe decodes the keys' postings on the
    driver: the delete phase of an update starts no Spark job."""
    from lucenenet_spark.datagen import generate_transcripts
    from lucenenet_spark.streaming.nrt import NRTIndex

    pdf = generate_transcripts(200)
    with forced_build_path("in_process"):
        idx = NRTIndex(spark, str(tmp_path / "nrt"), keyword_fields=("role", "tool", "conv_id"))
        idx._add(pdf, 0)
        conv = pdf["conv_id"].iloc[0]
        with forced_runner("spark"):
            old = idx.searcher().search(TermQuery(term=conv, field="conv_id"), 200)
            want = sorted(r["docid"] for r in old.collect())
        update = pdf[pdf["conv_id"] == conv].assign(text="revised turn")
        monkeypatch.setattr(NRTIndex, "_collect", staticmethod(lambda df: update))
        monkeypatch.setattr(NRTIndex, "_add", lambda self, batch, bid: None)
        with count_jobs(spark) as jobs:
            idx.update_documents(None, 1, "conv_id")
    assert jobs["jobs"] == 0
    assert want and sorted(idx.searcher()._deleted_array()) == want
