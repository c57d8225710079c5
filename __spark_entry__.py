"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: build the index over sf0.001 documents (mapped to
                 the transcript shape) and run a mixed boolean BM25 top-k.
queries()      — one entry per implemented operator family (SURVEY.md §2).
oracle_sql()   — float32-exact DuckDB SQL for each query (entry_support.py
                 emits every arithmetic step with REAL casts in the scorer's
                 operation order, so scores match bit-for-bit).
"""
from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucenenet_spark import entry_support as es
from lucenenet_spark.plans.parser import parse
from lucenenet_spark.plans.query import (
    BooleanQuery,
    DisMaxQuery,
    MatchAllQuery,
    MultiPhraseQuery,
    PayloadTermQuery,
    PhraseQuery,
    PrefixQuery,
    RegexpQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
)

# terms chosen from the gate corpus vocabulary (documents.text)
HOT, MID, T3, T4, T5 = "batch", "stream", "scan", "merge", "small"

# SimilarityBase matrix gates: each new component (BasicModelBE/D/IF,
# NormalizationH1/H3/Z, AfterEffect-none, LambdaTTF) exercised at least once
# through the generic "dfr:<bm>:<ae>:<norm>" / "ib:<dist>:<lambda>:<norm>"
# spec surface (operators/simbase.py).
SIMBASE_MATRIX_GATES = [
    ("term_bb2", "dfr_bb2"),  # BasicModelBE + B + H2 (Lucene's BB2)
    ("term_db2", "dfr_db2"),  # BasicModelD + B + H2
    ("term_ifb2", "dfr_ifb2"),  # BasicModelIF + B + H2
    ("term_inl2", "dfr_inl2"),  # BasicModelIn + AfterEffectL + H2
    ("term_gl1", "dfr:g:l:h1"),  # NormalizationH1
    ("term_in_z", "dfr:in:b:z"),  # NormalizationZ
    ("term_if_h3", "dfr:if:b:h3"),  # NormalizationH3 (mu=800)
    ("term_g_noae", "dfr:g:no:h2"),  # AfterEffect.NoAfterEffect
    ("term_ib_ttf", "ib_ll_ttf"),  # LambdaTTF
]
ABSENT, STOP = "zzzqx", "the"


def _searcher(spark: SparkSession, sf_dir: str, similarity: str = "bm25"):
    from lucenenet_spark.operators.search import IndexSearcher

    return IndexSearcher(
        spark, es.ensure_index(spark, sf_dir), similarity=similarity
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    s = _searcher(spark, "/root/testdata/sf0.001")
    hits = s.search(parse(f"+{HOT} {MID} -{T5}"), 10)
    return s.fetch(hits).select(
        "docid", "conv_id", "turn_idx", "role", "score"
    ).orderBy(F.desc("score"), F.asc("docid"))


def _q(fn: Callable[..., DataFrame]):
    return fn


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def topk(q, k=10, prune=True):
        def run(spark, sf_dir):
            return _searcher(spark, sf_dir).search(q, k, prune=prune)

        return run

    out: dict[str, Callable] = {
        "term_hot": topk(TermQuery(term=HOT)),
        "term_mid": topk(TermQuery(term=MID), k=25),
        "term_absent": topk(TermQuery(term=ABSENT)),
        "term_stopword": topk(TermQuery(term=STOP)),
        "bool_and2": topk(BooleanQuery(must=(TermQuery(term=HOT), TermQuery(term=T3)))),
        "bool_and3": topk(
            BooleanQuery(must=(TermQuery(term=HOT), TermQuery(term=T3), TermQuery(term=T4))), k=20
        ),
        "bool_or5": topk(
            BooleanQuery(
                should=tuple(TermQuery(term=t) for t in [HOT, MID, T3, T4, T5])
            ),
            k=20,
        ),
        "bool_mixed": topk(parse(f"+{HOT} {MID} -{T5}")),
        "bool_msm2": topk(
            BooleanQuery(
                should=tuple(TermQuery(term=t) for t in [HOT, MID, T3, T4]),
                min_should_match=2,
            ),
            k=15,
            prune=False,
        ),
        "dismax": topk(
            DisMaxQuery(queries=(TermQuery(term=HOT), TermQuery(term=MID)), tie_breaker=0.3),
            k=15,
        ),
        "phrase_exact": topk(PhraseQuery(terms=("table", "hash")), k=15),
        "phrase_sloppy": topk(PhraseQuery(terms=("value", "table"), slop=3), k=15),
        "multi_phrase": topk(
            MultiPhraseQuery(term_arrays=(("table", "value"), ("hash",))), k=15
        ),
        "multi_phrase_sloppy": topk(
            MultiPhraseQuery(
                term_arrays=(("value", "small"), ("table",)), slop=3
            ),
            k=15,
        ),
        # 3-slot sloppy: the N-stream SloppyPhraseScorer pq, now SQL-gated
        # (the oracle's recursive CTE generalizes past 2 slots in r5)
        "multi_phrase_sloppy3": topk(
            MultiPhraseQuery(
                term_arrays=(("value", "small"), ("table",), ("hash", "data")),
                slop=4,
            ),
            k=15,
        ),
        "payload_term": topk(PayloadTermQuery(term=MID), k=15),
        "payload_term_max": topk(
            PayloadTermQuery(term=HOT, function="max", include_span_score=False),
            k=15,
        ),
        "field_role_term": topk(TermQuery(term="user", field="role"), k=15),
        # multi-valued keyword field (r5): 'labels' is array<string>
        # ([role] ⊕ [tool]) — array cells index as SortedSet-style
        # per-distinct-value postings (JoinUtil.cs multi-value shape)
        "field_labels_multi": topk(TermQuery(term="src7", field="labels"), k=15),
        "field_labels_role": topk(
            TermQuery(term="assistant", field="labels"), k=15
        ),
        "bool_cross_field": topk(
            BooleanQuery(
                must=(TermQuery(term=HOT),),
                should=(TermQuery(term="user", field="role"),),
            ),
            k=15,
        ),
        "prefix": topk(PrefixQuery(prefix="sc"), k=100000),
        "wildcard": topk(WildcardQuery(pattern="sc?n"), k=100000),
        # Lucene-automaton grammar (r5): quoted literal + char class +
        # bounded repeat, translated to Java/RE2 (Util/Automaton/RegExp.cs)
        "regexp": topk(
            RegexpQuery(pattern='"sc"[ae]n|filt.r{1,2}'), k=100000
        ),
        "term_range": topk(TermRangeQuery(lower="m", upper="t"), k=100000),
        "match_all": topk(MatchAllQuery(), k=1_000_000, prune=False),
    }

    def search_after(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        q = TermQuery(term=HOT)
        p1 = s.search(q, 10).collect()
        return s.search_after(q, 10, float(p1[-1]["score"]), int(p1[-1]["docid"]))

    def count_hits(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        return s.scores(TermQuery(term=HOT)).agg(F.count("*").alias("n_hits"))

    def facet_role(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        return (
            s.facet_counts(TermQuery(term=HOT), "role")
            .withColumnRenamed("count", "n")
            .orderBy("role")
        )

    def facet_drilldown(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        return (
            s.facet_drilldown(TermQuery(term=HOT), {"role": "tool"}, "tool")
            .withColumnRenamed("count", "n")
            .orderBy("tool")
        )

    def facet_tree(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        return s.facet_taxonomy(TermQuery(term=HOT), ("role", "tool"))

    def facet_sideways(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        return s.drill_sideways(
            TermQuery(term=HOT), {"role": "tool", "tool": "src1"}
        )

    def group_top2(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        return s.group_top_k(TermQuery(term=HOT), "conv_id", 2).select(
            "conv_id", "docid", "score", F.col("rank_in_group").cast("int").alias("rank_in_group")
        )

    def sort_by_ts(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        return s.sort_by_field(TermQuery(term=HOT), ["ts"], k=15).select(
            "docid", F.col("ts").cast("string").alias("ts_s")
        )

    def sort_multi(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        return s.sort_by_fields(
            TermQuery(term=HOT),
            [("tool", False, True), ("turn_idx", True, False)],
            k=15,
        ).select("docid", "tool", F.col("turn_idx").cast("int").alias("turn_idx"))

    def search_after_turn(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        specs = [("turn_idx", False, False)]
        p1 = s.sort_by_fields(TermQuery(term=HOT), specs, k=20).collect()
        last = p1[-1]
        return s.search_after_fields(
            TermQuery(term=HOT), specs, [last["turn_idx"]], int(last["docid"]),
            k=20,
        ).select("docid", F.col("turn_idx").cast("int").alias("turn_idx"))

    def facet_range_len(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        return s.facet_ranges(
            TermQuery(term=HOT),
            "field_length",
            [
                ("short", 0, 10, True, False),
                ("mid", 10, 25, True, False),
                ("long", 25, 1 << 20, True, True),
                ("all", 0, 1 << 20, True, True),
            ],
        )

    def diversified_topk(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        return s.diversified_top_k(TermQuery(term=HOT), "conv_id", 1, k=12)

    def shingle_top(spark, sf_dir):
        from lucenenet_spark.functions.analysis import shingle_udf

        d = _docs(spark, sf_dir)
        ex = d.select(
            "doc_id", F.explode(shingle_udf(2)(F.col("text"))).alias("shingle")
        )
        return (
            ex.groupBy("shingle")
            .agg(F.countDistinct("doc_id").alias("df"), F.count("*").alias("ttf"))
            .orderBy(F.desc("df"), F.asc("shingle"))
            .limit(20)
        )

    def _phonetic_top(encoder, inject):
        def run(spark, sf_dir):
            from lucenenet_spark.functions.phonetic import phonetic_udf

            d = _docs(spark, sf_dir)
            ex = d.select(
                "doc_id",
                F.explode(phonetic_udf(encoder, inject)(F.col("text"))).alias(
                    "term"
                ),
            )
            return (
                ex.groupBy("term")
                .agg(
                    F.countDistinct("doc_id").alias("df"),
                    F.count("*").alias("ttf"),
                )
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(20)
            )

        return run

    out["phonetic_soundex_top"] = _phonetic_top("soundex", True)
    out["phonetic_caverphone_top"] = _phonetic_top("caverphone2", True)
    out["phonetic_refined_replace"] = _phonetic_top("refined_soundex", False)
    out["phonetic_nysiis_top"] = _phonetic_top("nysiis", True)
    out["phonetic_metaphone_top"] = _phonetic_top("metaphone", True)
    out["phonetic_cologne_top"] = _phonetic_top("cologne", True)
    out["phonetic_mra_top"] = _phonetic_top("match_rating", True)
    out["phonetic_caverphone1_top"] = _phonetic_top("caverphone1", False)

    def _dmetaphone_top(inject):
        def run(spark, sf_dir):
            from lucenenet_spark.functions.dmetaphone import dmetaphone_udf

            d = _docs(spark, sf_dir)
            ex = d.select(
                "doc_id",
                F.explode(dmetaphone_udf(inject)(F.col("text"))).alias("term"),
            )
            return (
                ex.groupBy("term")
                .agg(
                    F.countDistinct("doc_id").alias("df"),
                    F.count("*").alias("ttf"),
                )
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(20)
            )

        return run

    out["phonetic_dmetaphone_top"] = _dmetaphone_top(True)
    out["phonetic_dmetaphone_replace"] = _dmetaphone_top(False)

    # Daitch-Mokotoff (round 5z4): the filter arm runs the non-branching
    # Encode(); phonetic_dm_codes gates the full BRANCHING soundex() —
    # all '|'-joined branch codes per distinct analyzed term
    out["phonetic_dm_top"] = _phonetic_top("daitch_mokotoff", True)

    def phonetic_dm_codes(spark, sf_dir):
        from pyspark.sql.types import StringType

        from lucenenet_spark.functions.analysis import tokenize_udf

        def _dm_batch(col):
            from lucenenet_spark.functions.dmsoundex import daitch_mokotoff

            return col.map(daitch_mokotoff)

        dm = F.pandas_udf(_dm_batch, StringType())

        d = _docs(spark, sf_dir)
        vocab = d.select(
            F.explode(tokenize_udf("standard")(F.col("text"))).alias("term")
        ).distinct()
        return (
            vocab.select("term", dm(F.col("term")).alias("dm"))
            .orderBy("term")
            .limit(40)
        )

    out["phonetic_dm_codes"] = phonetic_dm_codes

    def suggest_freetext(spark, sf_dir):
        from lucenenet_spark.operators.suggest import freetext_suggest

        return freetext_suggest(_docs(spark, sf_dir), f"{HOT} s", k=10)

    def edge_ngram_top(spark, sf_dir):
        # EdgeNGramTokenFilter over the analyzed stream (autocomplete
        # index shape): top front-grams by doc-freq
        from lucenenet_spark.functions.analysis import tokens_col
        from lucenenet_spark.functions.ngram import edge_ngram_udf

        d = _docs(spark, sf_dir)
        ex = d.select(
            "doc_id",
            F.explode(
                edge_ngram_udf(1, 3)(tokens_col(F.col("text")))
            ).alias("gram"),
        )
        return (
            ex.groupBy("gram")
            .agg(F.countDistinct("doc_id").alias("df"),
                 F.count("*").alias("ttf"))
            .orderBy(F.desc("df"), F.asc("gram"))
            .limit(20)
        )

    def ngram_top(spark, sf_dir):
        # NGramTokenFilter (fuzzy/infix index shape): all 2-3 grams
        from lucenenet_spark.functions.analysis import tokens_col
        from lucenenet_spark.functions.ngram import ngram_udf

        d = _docs(spark, sf_dir)
        ex = d.select(
            "doc_id",
            F.explode(
                ngram_udf(2, 3)(tokens_col(F.col("text")))
            ).alias("gram"),
        )
        return (
            ex.groupBy("gram")
            .agg(F.countDistinct("doc_id").alias("df"),
                 F.count("*").alias("ttf"))
            .orderBy(F.desc("df"), F.asc("gram"))
            .limit(20)
        )

    def common_grams_top(spark, sf_dir):
        # CommonGramsFilter stream (unigrams + stop-adjacent bigrams)
        # over the UNSTOPPED lowercase tokens
        from lucenenet_spark.functions.analysis import ENGLISH_STOP_WORDS
        from lucenenet_spark.functions.ngram import common_grams_udf

        d = _docs(spark, sf_dir)
        ex = d.select(
            "doc_id",
            F.explode(
                common_grams_udf(ENGLISH_STOP_WORDS)(F.col("text"))
            ).alias("term"),
        )
        return (
            ex.groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"),
                 F.count("*").alias("ttf"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(20)
        )

    def doclen(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        return s.docs().select(
            "docid", F.col("field_length").cast("long").alias("len_tokens")
        )

    def term_stats_top(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        return (
            s.term_stats()
            .select("term", "df", "ttf")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(20)
        )

    def norm_hist(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        return (
            s.docs()
            .groupBy(F.col("norm_byte").cast("int").alias("norm_byte"))
            .agg(F.count("*").alias("n"))
            .orderBy("norm_byte")
        )

    out.update(
        search_after=search_after,
        count_hits=count_hits,
        facet_role=facet_role,
        facet_drilldown=facet_drilldown,
        facet_tree=facet_tree,
        facet_sideways=facet_sideways,
        group_top2=group_top2,
        sort_by_ts=sort_by_ts,
        sort_multi=sort_multi,
        search_after_turn=search_after_turn,
        facet_range_len=facet_range_len,
        diversified_topk=diversified_topk,
        shingle_top=shingle_top,
        edge_ngram_top=edge_ngram_top,
        ngram_top=ngram_top,
        common_grams_top=common_grams_top,
        suggest_freetext=suggest_freetext,
        doclen=doclen,
        term_stats_top=term_stats_top,
        norm_hist=norm_hist,
    )

    # -- boosted / filtered / fuzzy retrieval --------------------------------
    out["boost_should"] = topk(
        BooleanQuery(should=(TermQuery(term=HOT, boost=2.5), TermQuery(term=MID))),
        k=15,
        prune=False,
    )
    from lucenenet_spark.plans.query import FilteredQuery, FuzzyQuery

    out["filtered_role"] = topk(
        FilteredQuery(query=TermQuery(term=HOT), where="role = 'user'"), k=15
    )
    out["fuzzy"] = topk(FuzzyQuery(term="batc", max_edits=1), k=20)

    # -- CommonTermsQuery: df-driven high/low split ---------------------------
    from lucenenet_spark.plans.query import CommonTermsQuery

    # 'dup' is the corpus's one low-df term (df 25 at sf0.01); the 0.5
    # threshold classifies the hot terms (~80% df) high on every sf
    out["common_terms"] = topk(
        CommonTermsQuery(terms=(HOT, T5, "dup"), max_term_frequency=0.5), k=15
    )
    out["common_terms_msm"] = topk(
        CommonTermsQuery(
            terms=(HOT, T5, "dup", ABSENT),
            max_term_frequency=0.5,
            low_freq_occur="SHOULD",
            low_freq_min_should_match=1.0,
            high_freq_min_should_match=2.0,
        ),
        k=15,
    )
    out["common_terms_allhigh"] = topk(
        CommonTermsQuery(terms=(HOT, T5), max_term_frequency=0.05), k=15
    )

    # ConstantScoreQuery over a NON-disjunction inner query: matches exactly
    # the conjunction's docs with constant score (ConstantScoreQuery.cs)
    from lucenenet_spark.plans.query import ConstantScoreQuery

    out["constant_score_bool"] = topk(
        ConstantScoreQuery(
            query=BooleanQuery(must=(TermQuery(term=HOT), TermQuery(term=T3))),
            boost=2.0,
        ),
        k=30,
    )

    # -- Filter family (round 5n): TermsFilter / FieldValueFilter /
    # BooleanFilter / ChainedFilter as docid-set producers under
    # ConstantScoreQuery and FilteredQuery
    from lucenenet_spark.plans.query import (
        CHAIN_OR,
        CHAIN_XOR,
        BooleanFilter,
        ChainedFilter,
        FieldValueFilter,
        TermsFilter,
    )

    out["terms_filter"] = topk(
        ConstantScoreQuery(
            filter=TermsFilter(terms=(("role", "tool"), ("text", MID))),
            boost=1.5,
        ),
        k=20,
    )
    out["field_value_filter"] = topk(
        FilteredQuery(
            query=TermQuery(term=HOT), filter=FieldValueFilter(field="tool")
        ),
        k=15,
    )
    out["bool_filter"] = topk(
        ConstantScoreQuery(
            filter=BooleanFilter(
                should=(
                    TermsFilter(terms=(("text", MID),)),
                    TermsFilter(terms=(("text", T3),)),
                ),
                must_not=(FieldValueFilter(field="tool"),),
            )
        ),
        k=25,
    )
    out["chained_filter_xor"] = topk(
        ConstantScoreQuery(
            filter=ChainedFilter(
                filters=(
                    TermsFilter(terms=(("text", HOT),)),
                    TermsFilter(terms=(("text", MID),)),
                ),
                logic=(CHAIN_OR, CHAIN_XOR),
            )
        ),
        k=25,
    )

    def term_tfidf(spark, sf_dir):
        s = _searcher(spark, sf_dir, similarity="classic")
        return s.search(TermQuery(term=HOT), 15)

    out["term_tfidf"] = term_tfidf

    def explain_bm25(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        return s.explain(TermQuery(term=MID), k=12)

    out["explain_bm25"] = explain_bm25

    def explain_classic(spark, sf_dir):
        s = _searcher(spark, sf_dir, similarity="classic")
        return s.explain(TermQuery(term=MID), k=12)

    out["explain_classic"] = explain_classic

    def term_lmd(spark, sf_dir):
        s = _searcher(spark, sf_dir, similarity="lmd")
        return s.search(TermQuery(term=HOT), 15)

    out["term_lmd"] = term_lmd

    def term_lmjm(spark, sf_dir):
        s = _searcher(spark, sf_dir, similarity="lmjm")
        return s.search(TermQuery(term=HOT), 15)

    out["term_lmjm"] = term_lmjm

    def phrase_tfidf(spark, sf_dir):
        # PhraseQuery under classic TF-IDF: every Similarity scores every
        # Scorer (TFIDFSimScorer.Score over the phrase freq)
        s = _searcher(spark, sf_dir, similarity="classic")
        return s.search(PhraseQuery(terms=("table", "hash")), 15)

    out["phrase_tfidf"] = phrase_tfidf

    def _sweet_searcher(spark, sf_dir):
        # SweetSpotSimilarity: plateau length norm baked into the INDEX
        # (norm_spec), BaselineTf factors (base=1.5, min=2) at query time
        from lucenenet_spark.operators.search import IndexSearcher

        return IndexSearcher(
            spark,
            es.ensure_sweet_index(spark, sf_dir),
            similarity="sweetspot:1.5:2",
        )

    def term_sweetspot(spark, sf_dir):
        return _sweet_searcher(spark, sf_dir).search(TermQuery(term=HOT), 15)

    def phrase_sweetspot(spark, sf_dir):
        return _sweet_searcher(spark, sf_dir).search(
            PhraseQuery(terms=("table", "hash")), 15
        )

    out["term_sweetspot"] = term_sweetspot
    out["phrase_sweetspot"] = phrase_sweetspot

    # -- Expressions module (JS expression compiler over doc values + _score)
    out["expr_sort"] = lambda s, d: _searcher(s, d).expression_sort(
        TermQuery(term=HOT), "_score + sqrt(1.0 + turn_idx)", k=15
    )
    out["expr_rescore"] = lambda s, d: _searcher(s, d).expression_rescore(
        TermQuery(term=MID),
        "turn_idx % 2.0 == 0.0 ? _score * 1.5 : max(_score, 0.5)",
        n=20,
        k=10,
    )

    def phrase_lmd(spark, sf_dir):
        # sloppy phrase under LM-Dirichlet (MultiSimScorer sums the
        # per-term kernels at the shared sloppyFreq)
        s = _searcher(spark, sf_dir, similarity="lmd")
        return s.search(PhraseQuery(terms=("value", "table"), slop=2), 15)

    out["phrase_lmd"] = phrase_lmd

    def term_stemmed(spark, sf_dir):
        # English analyzer (Porter stem slot): "merging" parses to the
        # stemmed index term "merg" (QueryParser(analyzer) semantics)
        from lucenenet_spark.operators.search import IndexSearcher

        s = IndexSearcher(spark, es.ensure_stemmed_index(spark, sf_dir))
        return s.search(parse("merging", analyzer=s.analyzer), 15)

    out["term_stemmed"] = term_stemmed

    def bool_stemmed(spark, sf_dir):
        from lucenenet_spark.operators.search import IndexSearcher

        s = IndexSearcher(spark, es.ensure_stemmed_index(spark, sf_dir))
        return s.search(parse("+merging valuing", analyzer=s.analyzer), 15)

    out["bool_stemmed"] = bool_stemmed

    def term_german(spark, sf_dir):
        # German analyzer slot (snowball stops + GermanNormalizationFilter
        # + GermanLightStemFilter): "merges" parses to the stemmed index
        # term "merg" via the UniNE light rules
        from lucenenet_spark.operators.search import IndexSearcher

        s = IndexSearcher(
            spark, es.ensure_analyzer_index(spark, sf_dir, "german")
        )
        return s.search(parse("merges", analyzer=s.analyzer), 15)

    out["term_german"] = term_german

    def bool_swedish(spark, sf_dir):
        # Swedish analyzer slot (snowball stops + SwedishLightStemFilter)
        from lucenenet_spark.operators.search import IndexSearcher

        s = IndexSearcher(
            spark, es.ensure_analyzer_index(spark, sf_dir, "swedish")
        )
        return s.search(parse("+merges batches", analyzer=s.analyzer), 15)

    out["bool_swedish"] = bool_swedish

    def _analyzer_term_gate(lang, query_text):
        def gate(spark, sf_dir):
            # language analyzer slot (snowball stops + the reference's
            # light stem filter; fr/it also run ElisionFilter pre-stop):
            # the query surface form parses to the same stemmed index
            # term the corpus words map to (round 5, functions/lightstem)
            from lucenenet_spark.operators.search import IndexSearcher

            s = IndexSearcher(
                spark, es.ensure_analyzer_index(spark, sf_dir, lang)
            )
            return s.search(parse(query_text, analyzer=s.analyzer), 15)

        return gate

    # surface form -> stem: fr/es/pt/no "merges"->"merg", it "columni"
    # (Italian plural shape) -> "column", fi "merge"->"merg"
    def term_stem_exclusion(spark, sf_dir):
        # SetKeywordMarkerFilter via the :excl= analyzer suffix — "merge"
        # is stem-excluded so it indexes (and parses) UNstemmed while
        # every other token still goes through Porter
        from lucenenet_spark.operators.search import IndexSearcher

        s = IndexSearcher(
            spark,
            es.ensure_analyzer_index(spark, sf_dir, "english:excl=merge"),
        )
        return s.search(parse("merge", analyzer=s.analyzer), 15)

    out["term_stem_exclusion"] = term_stem_exclusion

    out["term_french"] = _analyzer_term_gate("french", "merges")
    out["term_spanish"] = _analyzer_term_gate("spanish", "merges")
    out["term_italian"] = _analyzer_term_gate("italian", "columni")
    out["term_portuguese"] = _analyzer_term_gate("portuguese", "merges")
    out["term_norwegian"] = _analyzer_term_gate("norwegian", "merges")
    out["term_finnish"] = _analyzer_term_gate("finnish", "merge")
    out["term_hungarian"] = _analyzer_term_gate("hungarian", "merge")
    # round-5d slots: Czech/Latvian query surfaces stem "merges" -> "merg"
    # like the corpus word "merge"; Indonesian strips the -nya possessive
    # pronoun; Bulgarian is identity on Latin text (its rules are Cyrillic)
    # so the gate proves the chain wiring and the fuzz pytest the stemmer
    out["term_czech"] = _analyzer_term_gate("czech", "merges")
    out["term_latvian"] = _analyzer_term_gate("latvian", "merges")
    out["term_indonesian"] = _analyzer_term_gate("indonesian", "customernya")
    out["term_bulgarian"] = _analyzer_term_gate("bulgarian", "merge")

    def bool_russian(spark, sf_dir):
        # Russian analyzer slot: the snowball Russian stop set is
        # Cyrillic-only, so English "the" is NOT a stop word here — the
        # SHOULD clause must survive analysis and score
        from lucenenet_spark.operators.search import IndexSearcher

        s = IndexSearcher(
            spark, es.ensure_analyzer_index(spark, sf_dir, "russian")
        )
        return s.search(parse("+merge the", analyzer=s.analyzer), 15)

    out["bool_russian"] = bool_russian
    # round-5e slots: Galician's RSLP-S plural step applies to Latin text
    # ("merges" -> "merge", the corpus word); Arabic/Persian/Sorani rules
    # are Arabic-script-only so the gates prove chain wiring + stop sets
    # and the fuzz pytests the normalizer/stemmer functions
    out["term_galician"] = _analyzer_term_gate("galician", "merges")
    out["term_arabic"] = _analyzer_term_gate("arabic", "merge")
    out["term_persian"] = _analyzer_term_gate("persian", "merge")
    out["term_sorani"] = _analyzer_term_gate("sorani", "merge")
    out["term_greek"] = _analyzer_term_gate("greek", "merge")
    out["term_hindi"] = _analyzer_term_gate("hindi", "merge")
    out["term_brazilian"] = _analyzer_term_gate("brazilian", "merges")
    out["term_cjk"] = _analyzer_term_gate("cjk", "merge")
    # round-5j snowball slots: the full snowball stemmers (no light
    # variant exists for these languages); "merges" -> "merg" conflates
    # with the corpus word "merge" through main_suffix
    out["term_danish"] = _analyzer_term_gate("danish", "merges")
    # Dutch: -s after a vowel does NOT strip (valid s-ending excludes
    # vowels and j), so the plural surface is "mergen" -> "merg", which
    # conflates with corpus "merge" via the step-2 e_ending
    out["term_dutch"] = _analyzer_term_gate("dutch", "mergen")
    # Armenian rules are Armenian-script-only: the gate proves chain
    # wiring + stop set, the fuzz pytest the stemmer itself
    out["term_armenian"] = _analyzer_term_gate("armenian", "merge")
    # Catalan conflates query "merges" (verb -es strip) with corpus
    # "merge" (residual -e strip) onto the same stem "merg" through two
    # DIFFERENT stemmer passes — plus elision/stops in the chain
    out["term_catalan"] = _analyzer_term_gate("catalan", "merges")
    # Romanian conflates query "mergea" (step_0 ea->e, then vowel -e)
    # with corpus "merge" (vowel -e) onto "merg" — two passes on the
    # query side, one on the corpus side
    out["term_romanian"] = _analyzer_term_gate("romanian", "mergea")
    # Basque: the izenak repeat walks leftward — query "mergeak" peels
    # -ak then -ge, corpus "merge" peels -ge, both landing on "mer"
    out["term_basque"] = _analyzer_term_gate("basque", "mergeak")
    # Irish: initial_morph mh->m plus verb -tar (R1) conflate query
    # "mhergetar" with the unchanged corpus "merge"; the raw-PRE chain
    # (hyphenations stop, elision, prothesis) is wired into the same slot
    out["term_irish"] = _analyzer_term_gate("irish", "mhergetar")
    # Turkish: ApostropheFilter drops 'in, the nominal-verb DUr branch
    # peels -dir, the noun lAr branch peels -ler — query "mergelerdir'in"
    # conflates with the unchanged corpus "merge" through three stages
    out["term_turkish"] = _analyzer_term_gate("turkish", "mergelerdir'in")
    # ASCIIFoldingFilter as the :ascii analyzer flag — the accented query
    # surface "mérgé" folds to the corpus term "merge" at parse time AND
    # the whole index is built through the folding chain
    out["term_ascii_fold"] = _analyzer_term_gate("standard:ascii", "mérgé")
    # Core-tokenizer slots (round 5n). whitespace: NO stop filter, so the
    # stopword "the" is indexed, scoreable, and counted in every norm
    # (field lengths grow vs the standard index); simple/stop:
    # LetterTokenizer splits digit-bearing words ("word7" -> "word"),
    # shifting df/tf/norms; classic: ALPHANUM==standard on the [a-z0-9 ]
    # corpus, so the gate proves chain wiring end to end (grammar parity
    # is classic_tokens_top + the reference-vector pytest)
    out["term_whitespace"] = _analyzer_term_gate("whitespace", "the")
    out["term_simple"] = _analyzer_term_gate("simple", "merge")
    out["term_classic"] = _analyzer_term_gate("classic", "merge")

    def bool_stop_tok(spark, sf_dir):
        from lucenenet_spark.operators.search import IndexSearcher

        s = IndexSearcher(
            spark, es.ensure_analyzer_index(spark, sf_dir, "stop")
        )
        return s.search(parse("+batch scan", analyzer=s.analyzer), 15)

    out["bool_stop_tok"] = bool_stop_tok

    def synonym_or(spark, sf_dir):
        # query-time synonyms (SolrSynonymParser expand=true group):
        # "join" expands to the QueryBuilder BOOLEAN shape
        # OR(merge, join) in group declaration order
        from lucenenet_spark.plans.synonyms import (
            expand_query, parse_solr_synonyms,
        )

        s = _searcher(spark, sf_dir)
        m = parse_solr_synonyms("merge, join")
        return s.search(expand_query(parse("join"), m), 15)

    out["synonym_or"] = synonym_or

    def synonym_phrase(spark, sf_dir):
        # a synonym inside a quoted phrase becomes a MultiPhraseQuery
        # position (QueryBuilder MUST_PHRASE shape)
        from lucenenet_spark.plans.synonyms import (
            expand_query, parse_solr_synonyms,
        )

        s = _searcher(spark, sf_dir)
        m = parse_solr_synonyms("table, value")
        return s.search(expand_query(parse('"table hash"'), m), 15)

    out["synonym_phrase"] = synonym_phrase

    def join_terms_avg(spark, sf_dir):
        # JoinUtil term join: docs sharing a tool with the HOT-term hits,
        # scored by the per-tool average of from-hit scores
        s = _searcher(spark, sf_dir)
        return s.join_terms(
            TermQuery(term=HOT), "tool", "tool", score_mode="avg", k=15
        )

    out["join_terms_avg"] = join_terms_avg

    def join_terms_none(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        return s.join_terms(
            TermQuery(term=HOT), "tool", "tool", score_mode="none",
            k=100000, boost=2.0,
        )

    out["join_terms_none"] = join_terms_none

    def payload_term_tfidf(spark, sf_dir):
        # payload span score through the CLASSIC kernel (new r5: every
        # similarity scores payload queries, PayloadTermQuery.cs GetScore)
        s = _searcher(spark, sf_dir, similarity="classic")
        return s.search(PayloadTermQuery(term=MID), 15)

    out["payload_term_tfidf"] = payload_term_tfidf

    def payload_term_lmd(spark, sf_dir):
        s = _searcher(spark, sf_dir, similarity="lmd")
        return s.search(PayloadTermQuery(term=MID), 15)

    out["payload_term_lmd"] = payload_term_lmd

    def join_terms_total_seg(spark, sf_dir):
        # same join as join_terms_avg but mode=total with the segmented
        # two-level fold FORCED — the driver proves it against the flat-fold
        # oracle (the nested aggregate carries the f32 accumulator across
        # docid ranges, bit-identical accumulation order)
        s = _searcher(spark, sf_dir)
        s.JOIN_FLAT_FOLD_MAX = 0
        s.JOIN_FOLD_RANGE = 1 << 10
        return s.join_terms(
            TermQuery(term=HOT), "tool", "tool", score_mode="total", k=15
        )

    out["join_terms_total_seg"] = join_terms_total_seg

    def join_terms_multi(spark, sf_dir):
        # multi-valued array<string> join fields on BOTH sides (JoinUtil
        # SortedSet path, TestJoinUtil.cs multi-value cases): tags = [role]
        # (+ tool when present); mode=max
        s = _searcher(spark, sf_dir)
        d = s.docs().withColumn(
            "tags",
            F.when(
                F.col("tool").isNotNull(), F.array("role", "tool")
            ).otherwise(F.array("role")),
        )
        return s.join_terms(
            TermQuery(term=HOT), "tags", "tags", score_mode="max", k=15,
            docs_df=d,
        )

    out["join_terms_multi"] = join_terms_multi

    def function_score(spark, sf_dir):
        # FunctionQuery: score = value source over doc columns (all docs)
        s = _searcher(spark, sf_dir)
        return s.function_score(
            "CAST(CAST(turn_idx + 1 AS FLOAT) / CAST(field_length + 1 AS FLOAT) AS FLOAT)",
            k=20,
        )

    out["function_score"] = function_score

    def custom_score(spark, sf_dir):
        # CustomScoreQuery: sub-query score x value source, float32
        s = _searcher(spark, sf_dir)
        return s.custom_score(
            TermQuery(term=HOT), "CAST(turn_idx + 1 AS FLOAT)", k=15
        )

    out["custom_score"] = custom_score

    def boosting_demote(spark, sf_dir):
        # BoostingQuery: demote HOT hits that also mention T3
        s = _searcher(spark, sf_dir)
        return s.boosting(
            TermQuery(term=HOT), TermQuery(term=T3), demote=0.5, k=15
        )

    out["boosting_demote"] = boosting_demote

    def filtered_ts_range(spark, sf_dir):
        # parser date-range production -> constant-score FilteredQuery with
        # the predicate pushed to the typed ts column
        s = _searcher(spark, sf_dir)
        q = parse("ts:[2024-01-01T00:00:30 TO 2024-01-01T00:02:00]")
        return s.search(q, 100000, prune=False)

    out["filtered_ts_range"] = filtered_ts_range

    def filtered_turn_range(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        return s.search(parse("turn_idx:{0 TO 2]"), 100000, prune=False)

    out["filtered_turn_range"] = filtered_turn_range

    def suggest_analyzing(spark, sf_dir):
        # AnalyzingSuggester: entries = first-3-token prefix of each doc,
        # weight = doc_id; lookup the analyzed prefix, weight-ordered
        import hashlib as _h

        from lucenenet_spark.functions.analysis import tokenize_udf
        from lucenenet_spark.operators import suggest as sg

        tag = _h.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
        sdir = os.path.join("/tmp/lucenenet_entry", f"sugg_{tag}")
        if not os.path.exists(os.path.join(sdir, "_suggest_meta.json")):
            docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            entries = docs.select(
                F.array_join(
                    F.slice(tokenize_udf("standard")(F.col("text")), 1, 3), " "
                ).alias("surface"),
                F.col("doc_id").alias("weight"),
            )
            sg.build_analyzing_suggester(spark, entries, sdir)
        return sg.analyzing_lookup(spark, sdir, HOT, k=12)

    out["suggest_analyzing"] = suggest_analyzing

    def _infix_entries(spark, sf_dir):
        from lucenenet_spark.functions.analysis import tokenize_udf

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return docs.select(
            F.array_join(
                F.slice(tokenize_udf("standard")(F.col("text")), 1, 3), " "
            ).alias("surface"),
            F.col("doc_id").alias("weight"),
        )

    def suggest_infix(spark, sf_dir):
        from lucenenet_spark.operators import suggest as sg

        return sg.infix_lookup(
            _infix_entries(spark, sf_dir), "batch sc", k=15
        )

    def suggest_blended(spark, sf_dir):
        from lucenenet_spark.operators import suggest as sg

        return sg.blended_infix_lookup(
            _infix_entries(spark, sf_dir), "bat", k=10, blender="reciprocal"
        )

    out["suggest_infix"] = suggest_infix
    out["suggest_blended"] = suggest_blended

    # -- misc token filters ---------------------------------------------------
    def _term_stats_top(col_udf):
        def run(spark, sf_dir):
            d = _docs(spark, sf_dir)
            ex = d.select(
                "doc_id", F.explode(col_udf(F.col("text"))).alias("term")
            )
            return (
                ex.groupBy("term")
                .agg(
                    F.countDistinct("doc_id").alias("df"),
                    F.count("*").alias("ttf"),
                )
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(20)
            )

        return run

    def filter_chain_top(spark, sf_dir):
        from lucenenet_spark.functions.miscfilters import misc_chain_udf

        return _term_stats_top(misc_chain_udf(3, 8, 5))(spark, sf_dir)

    def filter_pattern_top(spark, sf_dir):
        from lucenenet_spark.functions.miscfilters import pattern_replace_udf

        return _term_stats_top(pattern_replace_udf("[0-9]+$", "#"))(
            spark, sf_dir
        )

    def keyword_repeat_top(spark, sf_dir):
        from lucenenet_spark.functions.miscfilters import keyword_repeat_udf

        return _term_stats_top(keyword_repeat_udf())(spark, sf_dir)

    out["filter_chain_top"] = filter_chain_top
    out["filter_pattern_top"] = filter_pattern_top
    out["keyword_repeat_top"] = keyword_repeat_top

    def word_delim_top(spark, sf_dir):
        from lucenenet_spark.functions.worddelim import word_delimiter_udf

        return _term_stats_top(word_delimiter_udf())(spark, sf_dir)

    out["word_delim_top"] = word_delim_top

    def classic_tokens_top(spark, sf_dir):
        # ClassicTokenizer grammar over a derived punctuated text whose
        # token decomposition is known analytically (the SQL oracle emits
        # the same list from the same source columns): APOSTROPHE+filter,
        # ACRONYM dots, COMPANY, HOST, NUM, stop filtering all exercised
        from lucenenet_spark.functions.analysis import tokenize_udf

        d = _docs(spark, sf_dir)
        derived = F.concat(
            F.col("lang"), F.lit("'s U.S.A. "),
            F.col("lang"), F.lit("@"), F.col("lang"),
            F.lit(" www."), F.col("source"), F.lit(".com the 5000 v1-"),
            F.col("lang"), F.lit(" 1.2.3 batch"),
        )
        ex = d.select(
            "doc_id",
            F.explode(tokenize_udf("classic")(derived)).alias("term"),
        )
        return (
            ex.groupBy("term")
            .agg(
                F.countDistinct("doc_id").alias("df"),
                F.count("*").alias("ttf"),
            )
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(20)
        )

    out["classic_tokens_top"] = classic_tokens_top

    def keyword_tokens_top(spark, sf_dir):
        # KeywordAnalyzer: the whole text is ONE token (no case fold, no
        # cap) — term stats group full texts
        from lucenenet_spark.functions.analysis import tokenize_udf

        return _term_stats_top(tokenize_udf("keyword"))(spark, sf_dir)

    out["keyword_tokens_top"] = keyword_tokens_top

    # -- misc token filters, wave 2 (round 5n) --------------------------------
    # The [a-z ] corpus has no Scandinavian digraphs / digits / hyphens,
    # so each gate derives a text deterministically (the SQL oracle runs
    # the IDENTICAL derivation on the same source columns) and the filter
    # then transforms it for real.
    def _derived_stats_top(udf, derived):
        def run(spark, sf_dir):
            d = _docs(spark, sf_dir)
            ex = d.select(
                "doc_id", F.explode(udf(derived(d))).alias("term")
            )
            return (
                ex.groupBy("term")
                .agg(
                    F.countDistinct("doc_id").alias("df"),
                    F.count("*").alias("ttf"),
                )
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(20)
            )

        return run

    def _scand_text(d):
        # a->ae / o->oo seed substitute+delete pairs everywhere; the
        # literal suffix exercises the translate arm and uppercase pairs
        return F.concat(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), "a", "ae"), "o", "oo"
            ),
            F.lit(" blåbærsyltetøj räksmörgås Oo AE"),
        )

    def _digits_text(d):
        # 5000 -> <NUM>, 7x / <lang>42 -> <ALPHANUM>, per-doc length digits
        return F.concat(
            F.col("text"), F.lit(" 5000 7x "), F.col("lang"), F.lit("42 "),
            F.length(F.col("text")).cast("string"),
        )

    def scandinavian_fold_top(spark, sf_dir):
        from lucenenet_spark.functions.miscfilters2 import (
            scandinavian_fold_udf,
        )

        return _derived_stats_top(scandinavian_fold_udf(), _scand_text)(
            spark, sf_dir
        )

    def scandinavian_norm_top(spark, sf_dir):
        from lucenenet_spark.functions.miscfilters2 import (
            scandinavian_norm_udf,
        )

        return _derived_stats_top(scandinavian_norm_udf(), _scand_text)(
            spark, sf_dir
        )

    def capitalization_top(spark, sf_dir):
        # KeywordTokenizer + CapitalizationFilter over the UPPERCASED text:
        # word 0 gets ucfirst, every later word is fully lowercased
        from lucenenet_spark.functions.miscfilters2 import capitalization_udf

        return _derived_stats_top(
            capitalization_udf(), lambda d: F.upper(F.col("text"))
        )(spark, sf_dir)

    def hyphenated_top(spark, sf_dir):
        # 's ' -> '- ' makes s-final words hyphen-final (consecutive ones
        # accumulate); the appended ' end-' token is the stream-final
        # dangler that gets its hyphen restored
        from lucenenet_spark.functions.miscfilters2 import hyphenated_udf

        return _derived_stats_top(
            hyphenated_udf(),
            lambda d: F.concat(
                F.regexp_replace(F.col("text"), "s ", "- "), F.lit(" end-")
            ),
        )(spark, sf_dir)

    def type_token_num_top(spark, sf_dir):
        from lucenenet_spark.functions.miscfilters2 import type_token_udf

        return _derived_stats_top(
            type_token_udf(frozenset({"<NUM>"})), _digits_text
        )(spark, sf_dir)

    def pattern_capture_top(spark, sf_dir):
        from lucenenet_spark.functions.miscfilters2 import pattern_capture_udf

        return _derived_stats_top(
            pattern_capture_udf(("^([a-z]+)([0-9]+)$",), True), _digits_text
        )(spark, sf_dir)

    def keep_word_top(spark, sf_dir):
        from lucenenet_spark.functions.miscfilters2 import keep_word_udf

        return _term_stats_top(
            keep_word_udf(frozenset({"the", "batch", "scan", "merge"}))
        )(spark, sf_dir)

    out["scandinavian_fold_top"] = scandinavian_fold_top
    out["scandinavian_norm_top"] = scandinavian_norm_top
    out["capitalization_top"] = capitalization_top
    out["hyphenated_top"] = hyphenated_top
    out["type_token_num_top"] = type_token_num_top
    out["pattern_capture_top"] = pattern_capture_top
    out["keep_word_top"] = keep_word_top

    # -- CharFilter stage + path tokenizers + auto stop (round 5o) -----------
    def mapping_cf_top(spark, sf_dir):
        # greedy longest-match over a->aa seeded text; mappings chosen
        # alphabet-disjoint so the oracle's chained regexp_replace equals
        # the single-pass scan (see charfilters.py docstring)
        from lucenenet_spark.functions.charfilters import mapping_filter_udf

        return _derived_stats_top(
            mapping_filter_udf({"aa": "x", "b": "yy"}),
            lambda d: F.regexp_replace(F.col("text"), "a", "aa"),
        )(spark, sf_dir)

    def pattern_cf_top(spark, sf_dir):
        # whole-text regex with group refs: join word pairs with '_'
        # (changes the token multiset, so the stats gate sees it)
        from lucenenet_spark.functions.charfilters import (
            pattern_replace_filter_udf,
        )

        return _term_stats_top(
            pattern_replace_filter_udf(
                "([a-z]+) ([a-z]+)", "\\1_\\2", analyzer="whitespace"
            )
        )(spark, sf_dir)

    def _path_col(d):
        return F.concat(
            F.col("lang"), F.lit("/"), F.col("source"), F.lit("/")
        )

    def path_hier_top(spark, sf_dir):
        from lucenenet_spark.functions.pathtok import path_hierarchy_udf

        return _derived_stats_top(path_hierarchy_udf(), _path_col)(
            spark, sf_dir
        )

    def path_hier_rev_top(spark, sf_dir):
        from lucenenet_spark.functions.pathtok import path_hierarchy_udf

        return _derived_stats_top(path_hierarchy_udf(reverse=True), _path_col)(
            spark, sf_dir
        )

    def auto_stop_or(spark, sf_dir):
        # QueryAutoStopWordAnalyzer: 50% df threshold stops the common
        # terms (df ~0.8*maxDoc); only the planted rare 'dup' term survives
        from lucenenet_spark.operators.autostop import auto_stop_search

        s = _searcher(spark, sf_dir)
        return auto_stop_search(
            s, [HOT, MID, "dup"], k=15, max_percent_docs=0.5
        )

    out["mapping_cf_top"] = mapping_cf_top
    out["pattern_cf_top"] = pattern_cf_top
    out["path_hier_top"] = path_hier_top
    out["path_hier_rev_top"] = path_hier_rev_top
    out["auto_stop_or"] = auto_stop_or

    # -- misc filters wave 3 + WordBreakSpellChecker (round 5p) --------------
    def stemmer_override_top(spark, sf_dir):
        # keyword marker protects 'query' from Porter; override maps
        # 'value' -> 'VAL' (and protects it); the rest stem normally
        from lucenenet_spark.functions.miscfilters3 import (
            stemmer_override_udf,
        )

        return _term_stats_top(
            stemmer_override_udf(
                {"value": "VAL"}, keyword_set=frozenset({"query"})
            )
        )(spark, sf_dir)

    def codepoint_limit_top(spark, sf_dir):
        from lucenenet_spark.functions.miscfilters3 import codepoint_limit_udf

        return _term_stats_top(codepoint_limit_udf(2, 6, 5))(spark, sf_dir)

    _WB_SCHEMA = (
        "rank int, word_idx int, word string, freq bigint, score int"
    )

    def _wb_rows(spark, sw):
        rows = [
            (ri, wi, w.string, w.freq, w.score)
            for ri, words in enumerate(sw)
            for wi, w in enumerate(words)
        ]
        return spark.createDataFrame(rows, _WB_SCHEMA)

    def word_break_2(spark, sf_dir):
        from lucenenet_spark.operators.wordbreak import WordBreakSpellChecker

        wb = WordBreakSpellChecker(_searcher(spark, sf_dir))
        return _wb_rows(spark, wb.suggest_word_breaks("batchstream", 5))

    def word_break_3(spark, sf_dir):
        from lucenenet_spark.operators.wordbreak import WordBreakSpellChecker

        wb = WordBreakSpellChecker(_searcher(spark, sf_dir), max_changes=2)
        return _wb_rows(spark, wb.suggest_word_breaks("keyrowdata", 5))

    def word_combine(spark, sf_dir):
        from lucenenet_spark.operators.wordbreak import WordBreakSpellChecker

        wb = WordBreakSpellChecker(_searcher(spark, sf_dir))
        cs = wb.suggest_word_combinations(["ba", "tch"], 5)
        rows = [
            (w.string, w.freq, w.score, idxs[0], idxs[-1]) for w, idxs in cs
        ]
        return spark.createDataFrame(
            rows, "word string, freq bigint, score int, idx0 int, idx1 int"
        )

    out["stemmer_override_top"] = stemmer_override_top
    out["codepoint_limit_top"] = codepoint_limit_top
    out["word_break_2"] = word_break_2
    out["word_break_3"] = word_break_3
    out["word_combine"] = word_combine

    # -- compound words + Sandbox fuzzy (round 5q) ----------------------------
    COMPOUND_DICT = ("cust", "mer", "win", "dow", "stream", "able")

    def compound_top(spark, sf_dir):
        from lucenenet_spark.functions.compound import compound_udf

        return _term_stats_top(compound_udf(frozenset(COMPOUND_DICT)))(
            spark, sf_dir
        )

    def fuzzy_like_this_top(spark, sf_dir):
        from lucenenet_spark.operators.fuzzylike import fuzzy_like_this

        return fuzzy_like_this(
            _searcher(spark, sf_dir), "sost batc", 15,
            min_similarity=0.4, prefix_length=0,
        )

    def slow_fuzzy(spark, sf_dir):
        from lucenenet_spark.operators.fuzzylike import slow_fuzzy_query

        return slow_fuzzy_query(
            _searcher(spark, sf_dir), "windoww", 0.5, 0, k=15
        )

    out["compound_top"] = compound_top
    out["fuzzy_like_this_top"] = fuzzy_like_this_top
    out["slow_fuzzy"] = slow_fuzzy

    # -- suggest lookup family (round 5r): entries = whitespace vocab with
    # df weights; the lookups run driver-side on the collected dict (the
    # reference builds its FST/TST in memory the same way)
    def _lookup_entries(spark, sf_dir):
        from lucenenet_spark.functions.analysis import tokenize_udf

        d = _docs(spark, sf_dir)
        rows = (
            d.select(
                "doc_id",
                F.explode(tokenize_udf("whitespace")(F.col("text"))).alias(
                    "term"
                ),
            )
            .groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"))
            .collect()
        )
        return {r["term"]: int(r["df"]) for r in rows}

    def _rank_df(spark, pairs):
        return spark.createDataFrame(
            [(i, k, int(v)) for i, (k, v) in enumerate(pairs)],
            "rank int, key string, value bigint",
        )

    def fst_completion_top(spark, sf_dir):
        from lucenenet_spark.operators.fstlookup import (
            fst_completion_build,
            fst_completion_lookup,
        )

        table = fst_completion_build(
            list(_lookup_entries(spark, sf_dir).items()), buckets=10
        )
        return _rank_df(spark, fst_completion_lookup(table, "s", 4))

    def wfst_lookup_top(spark, sf_dir):
        from lucenenet_spark.operators.fstlookup import wfst_lookup

        return _rank_df(
            spark, wfst_lookup(_lookup_entries(spark, sf_dir), "s", 4)
        )

    def tst_lookup_top(spark, sf_dir):
        from lucenenet_spark.operators.fstlookup import tst_lookup

        return _rank_df(
            spark, tst_lookup(_lookup_entries(spark, sf_dir), "s", 4)
        )

    def jaspell_popular_top(spark, sf_dir):
        from lucenenet_spark.operators.fstlookup import jaspell_lookup

        return _rank_df(
            spark,
            jaspell_lookup(
                _lookup_entries(spark, sf_dir), "s", 2,
                only_more_popular=True,
            ),
        )

    # Jaspell MatchAlmost arm (usePrefix=false, editDistance=2): stored
    # keys of the query's exact length at exactly-2 lowercase-Hamming
    # mismatches, in the trie walk's lexicographic order; onlyMorePopular
    # re-ranks the num*2 walk slice by weight
    def jaspell_almost_top(spark, sf_dir):
        from lucenenet_spark.operators.fstlookup import jaspell_lookup

        return _rank_df(
            spark,
            jaspell_lookup(
                _lookup_entries(spark, sf_dir), "sant", 2,
                only_more_popular=True, use_prefix=False,
            ),
        )

    def jaspell_almost_alpha(spark, sf_dir):
        from lucenenet_spark.operators.fstlookup import jaspell_lookup

        return _rank_df(
            spark,
            jaspell_lookup(
                _lookup_entries(spark, sf_dir), "sant", 3,
                use_prefix=False,
            ),
        )

    out["fst_completion_top"] = fst_completion_top
    out["wfst_lookup_top"] = wfst_lookup_top
    out["tst_lookup_top"] = tst_lookup_top
    out["jaspell_popular_top"] = jaspell_popular_top
    out["jaspell_almost_top"] = jaspell_almost_top
    out["jaspell_almost_alpha"] = jaspell_almost_alpha

    # -- classic SpellChecker (round 5s) --------------------------------------
    def _spell_rows(spark, rows):
        return spark.createDataFrame(
            [(i, w, float(s), int(f)) for i, (w, s, f) in enumerate(rows)],
            "rank int, word string, score float, freq bigint",
        )

    def spell_classic_lev(spark, sf_dir):
        from lucenenet_spark.operators.spellchecker import (
            suggest_similar_scored,
        )

        return _spell_rows(
            spark,
            suggest_similar_scored(
                _searcher(spark, sf_dir), "batck", 5, accuracy=0.2
            ),
        )

    def spell_classic_dl(spark, sf_dir):
        from lucenenet_spark.operators.spellchecker import (
            suggest_similar_scored,
        )

        return _spell_rows(
            spark,
            suggest_similar_scored(
                _searcher(spark, sf_dir), "stble", 5,
                distance="lucene_levenshtein", accuracy=0.2,
            ),
        )

    out["spell_classic_lev"] = spell_classic_lev
    out["spell_classic_dl"] = spell_classic_dl

    # -- PatternTokenizer + TeeSink + HighFreqTerms (round 5t) ----------------
    def pattern_tok_split(spark, sf_dir):
        # whole-text split on 'a' runs: tokens keep spaces inside
        from lucenenet_spark.functions.patterntok import (
            pattern_tokenizer_udf,
        )

        return _term_stats_top(pattern_tokenizer_udf("a+", -1))(
            spark, sf_dir
        )

    def pattern_tok_group(spark, sf_dir):
        from lucenenet_spark.functions.patterntok import (
            pattern_tokenizer_udf,
        )

        return _term_stats_top(pattern_tokenizer_udf("([a-z]+)r", 1))(
            spark, sf_dir
        )

    def tee_sink_top(spark, sf_dir):
        # one analysis pass feeding three sinks; stats per (sink, term)
        from lucenenet_spark.functions.teesink import tee_sink_udf

        d = _docs(spark, sf_dir)
        derived = F.concat(
            F.col("text"), F.lit(" 20240101 7x "), F.col("lang"),
            F.lit("42 "), F.length(F.col("text")).cast("string"),
        )
        s = d.select("doc_id", tee_sink_udf()(derived).alias("s"))
        parts = [
            s.select(
                "doc_id",
                F.lit(name).alias("sink"),
                F.explode(F.col(f"s.{name}")).alias("term"),
            )
            for name in ("dates", "ranged", "typed")
        ]
        u = parts[0].unionAll(parts[1]).unionAll(parts[2])
        return (
            u.groupBy("sink", "term")
            .agg(
                F.countDistinct("doc_id").alias("df"),
                F.count("*").alias("ttf"),
            )
            .orderBy(F.desc("df"), F.asc("sink"), F.asc("term"))
            .limit(25)
        )

    def high_freq_terms_ttf(spark, sf_dir):
        # Misc/HighFreqTerms.cs with the TotalTermFreqComparer; ties
        # break by term (our defined order — the reference queue's tie
        # order is heap-dependent)
        s = _searcher(spark, sf_dir)
        return (
            s.term_stats()
            .filter(F.col("field") == "text")
            .select("term", "df", "ttf")
            .orderBy(F.desc("ttf"), F.asc("term"))
            .limit(20)
        )

    out["pattern_tok_split"] = pattern_tok_split
    out["pattern_tok_group"] = pattern_tok_group
    out["tee_sink_top"] = tee_sink_top
    out["high_freq_terms_ttf"] = high_freq_terms_ttf

    def html_strip_top(spark, sf_dir):
        # block div -> newline, inline b stripped bare, entity decoded,
        # comment (holding `source`!) gone, script element swallowed —
        # the oracle reconstructs the stripped text analytically
        from lucenenet_spark.functions.htmlstrip import html_strip_udf

        return _derived_stats_top(
            html_strip_udf(),
            lambda d: F.concat(
                F.lit('<div class="x">'), F.col("text"),
                F.lit("</div> <b>"), F.col("lang"),
                F.lit("</b> &amp; <!-- "), F.col("source"),
                F.lit(" --> <script>var x=1;</script> tail"),
            ),
        )(spark, sf_dir)

    out["html_strip_top"] = html_strip_top

    # -- Filter family wave 2 (round 5v) ---------------------------------------
    from lucenenet_spark.plans.query import (
        DocTermOrdsRangeFilter,
        FieldCacheRangeFilter,
        FieldCacheTermsFilter,
        NumericRangeFilter,
        PrefixFilter,
    )

    out["prefix_filter"] = topk(
        FilteredQuery(
            query=TermQuery(term=HOT),
            filter=PrefixFilter(field="text", prefix="sc"),
        ),
        k=15,
    )
    out["numeric_range_filter"] = topk(
        ConstantScoreQuery(
            filter=NumericRangeFilter("turn_idx", 1, 2, True, False)
        ),
        k=25,
    )
    out["fieldcache_terms_filter"] = topk(
        ConstantScoreQuery(
            filter=FieldCacheTermsFilter("role", ("user", "tool")),
            boost=1.5,
        ),
        k=25,
    )
    out["fieldcache_range_filter"] = topk(
        ConstantScoreQuery(
            filter=FieldCacheRangeFilter("role", "t", "v", True, False)
        ),
        k=25,
    )
    out["doc_term_ords_range"] = topk(
        ConstantScoreQuery(
            filter=DocTermOrdsRangeFilter("labels", "src3", "src6", True, True)
        ),
        k=25,
    )

    # NGramPhraseQuery (round 5v): the rewrite drops the redundant middle
    # gram — scored exactly as the positioned two-term phrase
    from lucenenet_spark.plans.query import NGramPhraseQuery

    out["ngram_phrase"] = topk(
        NGramPhraseQuery(n=2, terms=(HOT, MID, T3)), k=15
    )

    def wikipedia_top(spark, sf_dir):
        # wiki markup derived from the corpus columns: a category, plain
        # text, italics, an external link with anchor, a heading, and a
        # citation — the oracle reconstructs the token multiset
        from lucenenet_spark.functions.wikipedia import wikipedia_udf

        return _derived_stats_top(
            wikipedia_udf(),
            lambda d: F.concat(
                F.lit("[[Category:"), F.col("lang"), F.lit("]] "),
                F.col("text"), F.lit(" ''"), F.col("source"),
                F.lit("'' [http://"), F.col("source"), F.lit(".com "),
                F.col("lang"), F.lit("] ==head h2== <ref>cite "),
                F.col("lang"), F.lit("</ref>"),
            ),
        )(spark, sf_dir)

    out["wikipedia_top"] = wikipedia_top

    # -- ValueSource tree (round 5w): composed f32 chains under
    # FunctionQuery; scale() is the two-pass (corpus min/max) source
    def vs_reciprocal(spark, sf_dir):
        from lucenenet_spark.functions import valuesource as V

        vs = V.product(
            V.reciprocal(V.field("turn_idx"), 1.0, 1000.0, 1.0),
            V.const(2.0),
        )
        return _searcher(spark, sf_dir).function_score(vs.spark, k=25)

    def vs_scale(spark, sf_dir):
        from lucenenet_spark.functions import valuesource as V

        s = _searcher(spark, sf_dir)
        vs = V.sum_(
            V.scale(V.field("turn_idx"), 0.0, 1.0, s), V.const(0.5)
        )
        return s.function_score(vs.spark, k=25)

    out["vs_reciprocal"] = vs_reciprocal
    out["vs_scale"] = vs_scale

    CLS_TEXT_KNN = "batch stream scan merge small table hash batch stream batch"
    CLS_TEXT_NB = "batch stream scan merge small"

    def classify_knn(spark, sf_dir):
        from lucenenet_spark.operators import classification as cl

        s = _searcher(spark, sf_dir)
        cls, score = cl.knn_classify(s, CLS_TEXT_KNN, k=10)
        return spark.createDataFrame(
            [(cls, float(score))], "cls string, score double"
        )

    out["classify_knn"] = classify_knn

    def classify_nb(spark, sf_dir):
        from lucenenet_spark.operators import classification as cl

        s = _searcher(spark, sf_dir)
        cls, score = cl.naive_bayes_classify(s, CLS_TEXT_NB)
        return spark.createDataFrame(
            [(cls, float(score))], "cls string, score double"
        )

    out["classify_nb"] = classify_nb

    def rescore_topn(spark, sf_dir):
        # QueryRescorer: top-50 of HOT re-ranked by + MID's score
        s = _searcher(spark, sf_dir)
        return s.rescore(TermQuery(term=HOT), TermQuery(term=MID), n=50, k=15)

    out["rescore_topn"] = rescore_topn

    def suggest_fuzzy(spark, sf_dir):
        # FuzzySuggester: "batsh" (1 edit from "batch") completes against
        # the same suggest channel
        import hashlib as _h

        from lucenenet_spark.operators import suggest as sg

        tag = _h.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
        sdir = os.path.join("/tmp/lucenenet_entry", f"sugg_{tag}")
        out["suggest_analyzing"](spark, sf_dir).collect()  # ensure channel
        return sg.fuzzy_lookup(spark, sdir, "batsh", k=12)

    out["suggest_fuzzy"] = suggest_fuzzy

    def simple_query(spark, sf_dir):
        # SimpleQueryParser: lenient human-input grammar
        from lucenenet_spark.plans.parser import simple_parse

        s = _searcher(spark, sf_dir)
        return s.search(simple_parse(f"{HOT} | {T4} -{T5}"), 15, prune=False)

    out["simple_query"] = simple_query

    def term_dfr(spark, sf_dir):
        s = _searcher(spark, sf_dir, similarity="dfr_gb2")
        return s.search(TermQuery(term=HOT), 15)

    out["term_dfr"] = term_dfr

    def term_pl2(spark, sf_dir):
        s = _searcher(spark, sf_dir, similarity="dfr_pl2")
        return s.search(TermQuery(term=HOT), 15)

    out["term_pl2"] = term_pl2

    def term_ib(spark, sf_dir):
        s = _searcher(spark, sf_dir, similarity="ib_ll")
        return s.search(TermQuery(term=HOT), 15)

    out["term_ib"] = term_ib

    def term_ib_spl(spark, sf_dir):
        s = _searcher(spark, sf_dir, similarity="ib_spl")
        return s.search(TermQuery(term=HOT), 15)

    out["term_ib_spl"] = term_ib_spl

    def term_inb2(spark, sf_dir):
        s = _searcher(spark, sf_dir, similarity="dfr_inb2")
        return s.search(TermQuery(term=HOT), 15)

    out["term_inb2"] = term_inb2

    def term_ineb2(spark, sf_dir):
        s = _searcher(spark, sf_dir, similarity="dfr_ineb2")
        return s.search(TermQuery(term=HOT), 15)

    out["term_ineb2"] = term_ineb2

    # -- the rest of the SimilarityBase matrix (one gate per new component:
    #    BasicModelBE/D/IF, AfterEffect combos, NormalizationH1/H3/Z,
    #    LambdaTTF) through the generic composable kernels -------------------
    def _sim_gate(sim):
        def f(spark, sf_dir):
            s = _searcher(spark, sf_dir, similarity=sim)
            return s.search(TermQuery(term=HOT), 15)

        return f

    for _name, _sim in SIMBASE_MATRIX_GATES:
        out[_name] = _sim_gate(_sim)

    # -- highlighting + suggest/spellcheck satellites ------------------------
    from lucenenet_spark.operators import highlight as hl

    def highlight_hot(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        source = es.transcripts_from_documents(spark, sf_dir)
        return hl.highlight(s, TermQuery(term=HOT), [HOT], source, k=10)

    out["highlight_hot"] = highlight_hot

    def highlight_offs(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        source = es.transcripts_from_documents(spark, sf_dir)
        return hl.highlight_offsets(s, TermQuery(term=HOT), [HOT], source, k=10)

    out["highlight_offsets"] = highlight_offs
    out["suggest_prefix"] = lambda s, d: hl.suggest_terms(_searcher(s, d), "sc", 10)
    out["spell_suggest"] = lambda s, d: hl.spell_suggest(
        _searcher(s, d), "batcch", max_edits=2, k=5
    )

    # -- span queries --------------------------------------------------------
    from lucenenet_spark.operators import spans as sp

    def span_first(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        q = sp.SpanFirstQuery(match=sp.SpanTermQuery(term=HOT), end=5)
        return sp.span_search(s, q, 15)

    def span_near(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        q = sp.SpanNearQuery(
            clauses=(sp.SpanTermQuery(term=HOT), sp.SpanTermQuery(term=MID)),
            slop=4,
        )
        return sp.span_search(s, q, 15)

    def span_prefix_first(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        from lucenenet_spark.plans.query import PrefixQuery

        q = sp.SpanFirstQuery(
            match=sp.SpanMultiTermQueryWrapper(query=PrefixQuery(prefix="st")),
            end=6,
        )
        return sp.span_search(s, q, 15)

    def span_prefix_near(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        from lucenenet_spark.plans.query import PrefixQuery

        q = sp.SpanNearQuery(
            clauses=(
                sp.SpanMultiTermQueryWrapper(query=PrefixQuery(prefix="sc")),
                sp.SpanTermQuery(term=HOT),
            ),
            slop=5,
        )
        return sp.span_search(s, q, 15)

    out["span_prefix_first"] = span_prefix_first
    out["span_prefix_near"] = span_prefix_near

    def complex_phrase(spark, sf_dir):
        # ComplexPhraseQueryParser (new r5): a wildcard INSIDE a quoted
        # phrase compiles to SpanNear(wrapper(prefix), term) — reached
        # through the parser, same span-SQL oracle shape
        from lucenenet_spark.plans.parser import parse_complex

        s = _searcher(spark, sf_dir)
        return sp.span_search(s, parse_complex(f'"sc* {HOT}"~5'), 15)

    out["complex_phrase"] = complex_phrase

    def surround_w(spark, sf_dir):
        # Surround parser (new r5): infix 5W -> ordered SpanNear slop 4
        # (DistanceQuery.cs: slop = opDistance - 1), same span-SQL oracle
        from lucenenet_spark.plans.surround import parse_surround

        s = _searcher(spark, sf_dir)
        return sp.span_search(s, parse_surround(f"{HOT} 5W {MID}"), 15)

    out["surround_w"] = surround_w

    def surround_prefix_near(spark, sf_dir):
        # prefix-operator form with a truncation operand: 6W(sca*, HOT) ->
        # SpanNear(wrapper(prefix sca), term) ordered slop 5. The parser's
        # >=3-char truncation minimum (QueryParser.cs "Too unrestrictive
        # truncation") forbids sc*.
        from lucenenet_spark.plans.surround import parse_surround

        s = _searcher(spark, sf_dir)
        return sp.span_search(s, parse_surround(f"6W(sca*, {HOT})"), 15)

    out["surround_prefix_near"] = surround_prefix_near

    def surround_bool(spark, sf_dir):
        # AND/NOT realization (AndQuery.cs/NotQuery.cs): scored by the
        # regular boolean machinery
        from lucenenet_spark.plans.surround import parse_surround

        s = _searcher(spark, sf_dir)
        return s.search(parse_surround(f"{HOT} AND {MID} NOT {T4}"), 15)

    out["surround_bool"] = surround_bool

    # -- XML query parser (CoreParser.cs element grammar, new r5) -------------
    def xml_bool(spark, sf_dir):
        # BooleanQuery element with occurs routing — scored by the regular
        # boolean machinery, so the plain boolean SQL oracle applies
        from lucenenet_spark.plans.xmlparser import parse_xml

        s = _searcher(spark, sf_dir)
        q = parse_xml(
            '<BooleanQuery fieldName="text">'
            f'<Clause occurs="must"><TermQuery>{HOT}</TermQuery></Clause>'
            f'<Clause occurs="should"><TermQuery>{T4}</TermQuery></Clause>'
            f'<Clause occurs="mustNot"><TermQuery>{T5}</TermQuery></Clause>'
            "</BooleanQuery>"
        )
        return s.search(q, 15)

    out["xml_bool"] = xml_bool

    def xml_span_near(spark, sf_dir):
        # SpanNear element (slop REQUIRED, inOrder explicit) — same span
        # oracle as the programmatic SpanNearQuery gates
        from lucenenet_spark.plans.xmlparser import parse_xml

        s = _searcher(spark, sf_dir)
        q = parse_xml(
            '<SpanNear fieldName="text" slop="4" inOrder="true">'
            f"<SpanTerm>{HOT}</SpanTerm><SpanTerm>{MID}</SpanTerm></SpanNear>"
        )
        return sp.span_search(s, q, 15)

    out["xml_span_near"] = xml_span_near

    def xml_filtered(spark, sf_dir):
        # FilteredQuery element: NumericRangeFilter pushes down to the
        # typed turn_idx column; scores are the inner TermQuery's unchanged
        from lucenenet_spark.plans.xmlparser import parse_xml

        s = _searcher(spark, sf_dir)
        q = parse_xml(
            "<FilteredQuery><Filter>"
            '<NumericRangeFilter fieldName="turn_idx" lowerTerm="0"'
            ' upperTerm="2"/>'
            f'</Filter><Query><TermQuery fieldName="text">{HOT}</TermQuery>'
            "</Query></FilteredQuery>"
        )
        return s.search(q, 15)

    out["xml_filtered"] = xml_filtered

    # -- Flexible parser family (StandardQueryParser / Precedence, new r5) ----
    def flex_precedence(spark, sf_dir):
        # PrecedenceQueryParser keeps AND/OR nesting: OR(AND(hot, mid), t4)
        from lucenenet_spark.plans.flexible import precedence_parse

        s = _searcher(spark, sf_dir)
        return s.search(precedence_parse(f"{HOT} AND {MID} OR {T4}"), 15)

    out["flex_precedence"] = flex_precedence

    def flex_open_range(spark, sf_dir):
        # StandardSyntaxParser open-range operators push down to the typed
        # turn_idx column; two MatchAll-filter clauses fold to score 2.0
        from lucenenet_spark.plans.flexible import standard_parse

        s = _searcher(spark, sf_dir)
        q = standard_parse("turn_idx:>=1 AND turn_idx:<3")
        return s.search(q, 100000, prune=False)

    out["flex_open_range"] = flex_open_range

    def flex_multifield(spark, sf_dir):
        # multi-field expansion: each unfielded term becomes a grouped
        # OR(text:t, role:t); HOT matches via text, 'user' via the keyword
        from lucenenet_spark.plans.flexible import standard_parse

        s = _searcher(spark, sf_dir)
        q = standard_parse(f"{HOT} user", fields=("text", "role"))
        return s.search(q, 15)

    out["flex_multifield"] = flex_multifield

    # -- term vectors (doc-major channel) -------------------------------------
    def term_vector_doc(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        from lucenenet_spark.operators import termvectors as tv

        tv.build_term_vectors(
            spark, es.transcripts_from_documents(spark, sf_dir), s.index_dir
        )
        df = tv.term_vectors(s, docids=list(range(5)))
        return df.select("docid", "term", F.explode("positions").alias("pos"))

    out["term_vector_doc"] = term_vector_doc

    def _payload_near(function):
        def f(spark, sf_dir):
            s = _searcher(spark, sf_dir)
            q = sp.PayloadNearQuery(
                clauses=(sp.SpanTermQuery(term=HOT), sp.SpanTermQuery(term=MID)),
                slop=4,
                function=function,
            )
            return sp.payload_near_search(s, q, 15)

        return f

    out["span_first"] = span_first
    out["span_near"] = span_near
    out["payload_near_avg"] = _payload_near("avg")
    out["payload_near_min"] = _payload_near("min")

    def _payload_near_sim(function, sim):
        # payload-near through a non-BM25 kernel (new r5: PayloadNearQuery
        # routes its span score through the active SimScorer too)
        def f(spark, sf_dir):
            s = _searcher(spark, sf_dir, similarity=sim)
            q = sp.PayloadNearQuery(
                clauses=(sp.SpanTermQuery(term=HOT), sp.SpanTermQuery(term=MID)),
                slop=4,
                function=function,
            )
            return sp.payload_near_search(s, q, 15)

        return f

    out["payload_near_tfidf"] = _payload_near_sim("avg", "classic")
    out["payload_near_lmd"] = _payload_near_sim("min", "lmd")

    # -- MoreLikeThis --------------------------------------------------------
    from lucenenet_spark.operators import mlt as _mlt

    def more_like_this(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        source = es.transcripts_from_documents(spark, sf_dir)
        return _mlt.more_like_this(s, source, docid=7, k=15)

    out["more_like_this"] = more_like_this

    def more_like_this_tv(spark, sf_dir):
        # the GetTermVector path: terms come from the tvectors channel,
        # no source-text join
        s = _searcher(spark, sf_dir)
        from lucenenet_spark.operators import termvectors as tvch

        tvch.build_term_vectors(
            spark, es.transcripts_from_documents(spark, sf_dir), s.index_dir
        )
        return _mlt.more_like_this(s, None, docid=7, k=15)

    out["more_like_this_tv"] = more_like_this_tv

    # -- parent/child block join (conversation = parent block) ---------------
    out["join_parent_max"] = lambda s, d: _searcher(s, d).to_parent_join(
        TermQuery(term=HOT), "max", k=15
    )
    out["join_parent_total"] = lambda s, d: _searcher(s, d).to_parent_join(
        TermQuery(term=HOT), "total", k=15
    )
    out["join_parent_avg"] = lambda s, d: _searcher(s, d).to_parent_join(
        TermQuery(term=HOT), "avg", k=15
    )

    # -- training-data pipeline operators (documents / embeddings tables) ----
    from lucenenet_spark.pipeline import dedup, multimodal, similarity, textstats

    def _docs(spark, sf_dir):
        return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def _emb(spark, sf_dir):
        return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    def _qvec(spark, sf_dir, vid=7):
        row = _emb(spark, sf_dir).filter(F.col("vec_id") == vid).first()
        return [float(x) for x in row["embedding"]]

    out["doc_token_stats"] = lambda s, d: textstats.token_stats(_docs(s, d))
    out["doc_quality"] = lambda s, d: textstats.quality_scores(_docs(s, d))
    out["doc_lang"] = lambda s, d: textstats.lang_id(_docs(s, d))
    out["doc_fingerprint"] = lambda s, d: textstats.fingerprints(_docs(s, d))
    # dataset-curation operators (new r5): PII scrubbing, deterministic
    # splits, Gopher-style repetition metrics — all pure Catalyst
    from lucenenet_spark.pipeline import curate

    out["pii_scrub"] = lambda s, d: curate.pii_scrub(_docs(s, d))
    out["split_assign"] = lambda s, d: curate.split_assign(_docs(s, d))
    out["repetition_2gram"] = lambda s, d: curate.repetition_metrics(
        _docs(s, d), n=2
    )

    def strip_boiler(spark, sf_dir):
        # the corpus has no newlines — derive a multi-line column with one
        # always-boilerplate footer, one df~n/3 footer (also boilerplate at
        # min_df=30), and one unique per-doc footer that must survive
        d = _docs(spark, sf_dir)
        derived = d.select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.col("text"),
                F.lit("generated by transcript exporter"),
                F.when(
                    F.col("doc_id") % 3 == 0,
                    F.lit("confidential do not distribute"),
                ).otherwise(
                    F.concat(
                        F.lit("doc "),
                        F.col("doc_id").cast("string"),
                        F.lit(" footer"),
                    )
                ),
            ).alias("text"),
        )
        return curate.strip_boilerplate(derived, min_df=30)

    out["strip_boilerplate"] = strip_boiler
    out["pack_chunks"] = lambda s, d: curate.pack_sequences(_docs(s, d), 512)
    out["unigram_bits"] = lambda s, d: curate.unigram_logprob(_docs(s, d))
    out["sample_stratified"] = lambda s, d: curate.stratified_sample(
        _docs(s, d),
        {"src0": 1.0, "src3": 0.5, "src7": 0.25},
        default_rate=0.1,
    )

    def dedup_exact(spark, sf_dir):
        d = _docs(spark, sf_dir).select("doc_id", "text")
        both = d.unionByName(
            d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        )
        return dedup.exact_duplicates(both)

    out["dedup_exact"] = dedup_exact
    # near-dup clustering (connected components over the verified pair
    # graph, min-label propagation) + canonical survivor list (new r5)
    out["dedup_clusters"] = lambda s, d: dedup.dedup_clusters(
        _docs(s, d), threshold=0.5
    )
    out["dedup_keep"] = lambda s, d: dedup.dedup_keep(
        _docs(s, d), threshold=0.5
    )
    # test-set decontamination: probes are a deterministic id slice of the
    # corpus; docs sharing any 8-gram with a probe drop (new r5)
    out["decontam_keep"] = lambda s, d: dedup.decontaminate(
        _docs(s, d), _docs(s, d).filter(F.col("doc_id") % 97 == 0)
    )
    out["dedup_minhash_pairs"] = lambda s, d: dedup.lsh_candidate_pairs(_docs(s, d))
    out["dedup_jaccard"] = lambda s, d: dedup.jaccard_verify(
        _docs(s, d), dedup.lsh_candidate_pairs(_docs(s, d))
    )
    out["ann_cosine_topk"] = lambda s, d: similarity.cosine_topk(
        _emb(s, d), _qvec(s, d), 10
    )
    def _ivf_dir(spark, sf_dir):
        # materialized IVF index (built once per sf_dir, cached): queries
        # are partition-pruned probes, never per-query corpus re-assignment
        import hashlib as _h

        tag = _h.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
        out_dir = os.path.join("/tmp/lucenenet_entry", f"ivf_{tag}")
        similarity.build_ivf_index(_emb(spark, sf_dir), out_dir)
        return out_dir

    out["ann_ivf_topk"] = lambda s, d: similarity.ivf_index_topk(
        s, _ivf_dir(s, d), _qvec(s, d), 10
    )

    def ann_ivf_recall(spark, sf_dir):
        # self-checking recall@10 of the IVF path vs the exact baseline
        exact = similarity.cosine_topk(_emb(spark, sf_dir), _qvec(spark, sf_dir), 10)
        approx = similarity.ivf_index_topk(
            spark, _ivf_dir(spark, sf_dir), _qvec(spark, sf_dir), 10
        )
        inter = exact.select("vec_id").join(approx.select("vec_id"), "vec_id")
        return inter.agg((F.count("*") / F.lit(10.0)).alias("recall_at_10"))

    out["ann_ivf_recall"] = ann_ivf_recall

    def emb_cell_hist(spark, sf_dir):
        # read the materialized cell partitions — the index IS the histogram
        cells = spark.read.parquet(os.path.join(_ivf_dir(spark, sf_dir), "cells"))
        return (
            cells.groupBy("cell").agg(F.count("*").alias("n")).orderBy("cell")
        )

    out["emb_cell_hist"] = emb_cell_hist

    def emb_near_dups(spark, sf_dir):
        # the random gate corpus has no >=0.9-cosine pairs (r2 verdict: the
        # gate passed vacuously at 0 == 0) — plant two exact copies of
        # vector 0 so the LSH bucket join + cosine verify produce rows
        e = _emb(spark, sf_dir).select("vec_id", "embedding")
        v0 = e.filter(F.col("vec_id") == 0)
        planted = e
        for pid in (9000001, 9000002):
            planted = planted.unionByName(
                v0.select(
                    F.lit(pid).cast("long").alias("vec_id"), "embedding"
                )
            )
        return similarity.embedding_near_dup_pairs(planted, threshold=0.9)

    out["emb_near_dups"] = emb_near_dups

    # -- grouping extras (AllGroups / AllGroupHeads / DistinctValues) --------
    out["group_all"] = lambda s, d: _searcher(s, d).all_groups(
        TermQuery(term=HOT), "conv_id"
    )
    out["group_heads"] = lambda s, d: _searcher(s, d).group_heads(
        TermQuery(term=HOT), "conv_id", [("role", False, False)]
    )
    out["distinct_values"] = lambda s, d: _searcher(s, d).distinct_values(
        TermQuery(term=HOT), "role", "tool"
    )

    out["grouped_facets"] = lambda s, d: _searcher(s, d).grouped_facets(
        TermQuery(term=HOT), "conv_id", "tool"
    )
    # SortedSetDocValues as the derived [role, tool] label set
    _LABELS = "filter(array(role, tool), x -> x is not null)"
    out["sorted_set_min"] = lambda s, d: _searcher(s, d).sort_by_sorted_set(
        TermQuery(term=HOT), _LABELS, "min", k=15
    )
    out["sorted_set_middle_max"] = lambda s, d: _searcher(
        s, d
    ).sort_by_sorted_set(
        TermQuery(term=HOT), _LABELS, "middle_max", k=15, reverse=True,
        missing_last=True,
    )

    # -- facet extras (double ranges over the score source; sum value source)
    out["facet_range_score"] = lambda s, d: _searcher(s, d).facet_ranges(
        TermQuery(term=HOT),
        "score",
        [
            ("lo", 0.0, 0.8, True, False),
            ("midlo", 0.8, 1.2, True, False),
            ("hi", 1.2, 100.0, True, True),
            ("all", 0.0, 100.0, True, True),
        ],
    )
    out["facet_sum_score"] = lambda s, d: _searcher(s, d).facet_sum_value(
        TermQuery(term=HOT), "role"
    )

    # -- Sandbox DuplicateFilter -------------------------------------------
    out["dup_filter"] = lambda s, d: _searcher(s, d).duplicate_filter(
        TermQuery(term=HOT), "conv_id", keep="last", mode="full", k=15
    )
    out["dup_filter_fast"] = lambda s, d: _searcher(s, d).duplicate_filter(
        TermQuery(term=HOT), "tool", keep="first", mode="fast", k=15
    )

    # -- Spatial module (Lucene.Net.Spatial, round 5y) — geohash/quad
    # RecursivePrefixTreeStrategy intersects + disjoint, PointVectorStrategy
    # circle, distance / grid-quantized-distance sort, reciprocal-distance
    # function score. The spatial gate index (es.ensure_spatial_index)
    # carries the cell-token chains as keyword fields and lon/lat as
    # numeric doc columns.
    def geo_query(make_q, k=15, searcher_fn=None):
        def run(spark, sf_dir):
            from lucenenet_spark.operators.search import IndexSearcher

            s = IndexSearcher(spark, es.ensure_spatial_index(spark, sf_dir))
            return make_q(s, k)

        return run

    def _rpt_search(strategy_fn, args_text):
        from lucenenet_spark.operators.spatial import parse_spatial_args

        def make(s, k):
            return s.search(
                strategy_fn().make_query(parse_spatial_args(args_text)), k
            )

        return make

    SPATIAL_RECT = "ENVELOPE(-60.0, -20.0, 35.0, 5.0)"  # minX maxX maxY minY
    SPATIAL_CIRCLE = (10.0, 20.0, 25.5)
    SPATIAL_PT = (12.25, -33.5)
    out["spatial_rpt_rect"] = geo_query(
        _rpt_search(es.geo_strategy, f"Intersects({SPATIAL_RECT})")
    )
    out["spatial_rpt_disjoint"] = geo_query(
        _rpt_search(es.geo_strategy, f"IsDisjointTo({SPATIAL_RECT})")
    )
    out["spatial_quad_rect"] = geo_query(
        _rpt_search(es.quad_strategy, f"Intersects({SPATIAL_RECT})")
    )

    def _pv_circle(s, k):
        from lucenenet_spark.operators.spatial import (
            PointVectorStrategy,
            parse_spatial_args,
        )

        cx, cy, r = SPATIAL_CIRCLE
        return s.search(
            PointVectorStrategy().make_query(
                parse_spatial_args(f"Intersects(BUFFER(POINT({cx} {cy}), {r}))")
            ),
            k,
        )

    out["spatial_pv_circle"] = geo_query(_pv_circle)

    def _dist_sort(s, k):
        from lucenenet_spark.operators.spatial import distance_topk
        from lucenenet_spark.plans.query import SpatialDistanceSpec

        return distance_topk(
            s, SpatialDistanceSpec(from_x=SPATIAL_PT[0], from_y=SPATIAL_PT[1]), k
        )

    out["spatial_dist_sort"] = geo_query(_dist_sort)

    def _dist_grid(s, k):
        from lucenenet_spark.functions.geo import Point
        from lucenenet_spark.operators.spatial import distance_topk

        spec = es.geo_strategy().make_distance_value_source(
            Point(SPATIAL_PT[0], SPATIAL_PT[1])
        )
        return distance_topk(s, spec, k)

    out["spatial_dist_grid"] = geo_query(_dist_grid)

    def _recip(s, k):
        from lucenenet_spark.functions.geo import Circle
        from lucenenet_spark.operators.spatial import (
            PointVectorStrategy,
            recip_distance_topk,
        )

        return recip_distance_topk(
            s, PointVectorStrategy(), Circle(*SPATIAL_CIRCLE), k
        )

    out["spatial_recip"] = geo_query(_recip)

    # ord / reverse-ord value sources (round 5z): the terms-index ordinal
    # of the doc's keyword value through FunctionQuery; 'tool' is NULL on
    # 2/3 of docs, exercising the missing -> -1 (and reverse -> end) arm
    def _vs_ord(spark, sf_dir):
        from lucenenet_spark.functions.valuesource import ord_source

        s = _searcher(spark, sf_dir)
        return s.function_score(ord_source("tool", s).spark, k=15)

    def _vs_rord(spark, sf_dir):
        from lucenenet_spark.functions.valuesource import reverse_ord

        s = _searcher(spark, sf_dir)
        return s.function_score(reverse_ord("tool", s).spark, k=15)

    out["vs_ord"] = _vs_ord
    out["vs_reverse_ord"] = _vs_rord

    # Quality benchmark (Lucene.Net.Benchmark/Quality, round 5z): TREC
    # judge + QualityStats per query — three term queries, judgments =
    # "the term occurs AND turn_idx < 2" (a deterministic qrel set both
    # sides derive independently)
    def _quality_trec(spark, sf_dir):
        from lucenenet_spark.operators import quality as Q
        from lucenenet_spark.plans.query import FilteredQuery, TermsFilter

        s = _searcher(spark, sf_dir)
        qterms = [("q1", HOT), ("q2", MID), ("q3", T3)]
        jd = None
        for qid, t in qterms:
            rel = s.search(
                FilteredQuery(
                    query=ConstantScoreQuery(
                        filter=TermsFilter(terms=(("text", t),))
                    ),
                    where="turn_idx < 2",
                ),
                k=1 << 30,
                prune=False,
            ).select(
                F.lit(qid).alias("query_id"),
                F.col("docid").cast("string").alias("doc_name"),
            )
            jd = rel if jd is None else jd.unionByName(rel)
        stats = Q.quality_benchmark(
            s, {qid: TermQuery(term=t) for qid, t in qterms}, jd, k=20
        )
        return stats.orderBy("query_id")

    out["quality_trec"] = _quality_trec

    # Index-level phonetic analyzer chains (round 5z2): PhoneticFilter
    # appended to the standard chain at INDEX time — inject emits the code
    # as the anchor with the original as a posInc-0 overlap (norm length
    # discounts overlaps; sumTotalTermFreq counts both), replace rewrites
    # the token. A TermQuery on a CODE term scores BM25 over the code's
    # real postings.
    def term_phonetic_index(spark, sf_dir):
        from lucenenet_spark.operators.search import IndexSearcher

        s = IndexSearcher(
            spark,
            es.ensure_analyzer_index(
                spark, sf_dir, "standard:phonetic=soundex"
            ),
        )
        # soundex("batch") = B320 — the code term collides batch/badge/...
        return s.search(TermQuery(term="B320"), 15)

    out["term_phonetic_index"] = term_phonetic_index

    def term_phonetic_replace(spark, sf_dir):
        from lucenenet_spark.operators.search import IndexSearcher

        s = IndexSearcher(
            spark,
            es.ensure_analyzer_index(
                spark, sf_dir, "standard:phonetic=metaphone,replace"
            ),
        )
        # metaphone("batch") = "BX"
        return s.search(TermQuery(term="BX"), 15)

    out["term_phonetic_replace"] = term_phonetic_replace

    # analyzer parity on a planted punctuated corpus (UAX#29 word-break
    # joins the pure-[a-z0-9 ] transcript corpus never exercises)
    out["analyze_uax29"] = lambda s, d: es.analyze_uax29(s)
    # rows-only entries (no SQL oracle — Python-side media/simhash logic)
    out["doc_simhash"] = lambda s, d: dedup.simhash(_docs(s, d))
    out["media_features"] = lambda s, d: multimodal.media_features(
        multimodal.attach_media(_docs(s, d))
    )
    return _prioritize(out)


# The driver gates 50 rows/round and rotates. Priority is never-GREEN first
# (r4 verdict process finding): gates with a historical driver row but no
# green one ever, then gates brand-new this round (no row at all), then the
# stalest green tier (last driver-green r02), then the r03 tier — computed
# from CORRECTNESS_r0{1..4}.json hash_match history.
_NEVER_GREEN = ["doc_simhash", "media_features"]  # failed r1 (no_oracle), rotated out since
# round-5 additions are unseen by the driver — list them here as they land
_NEW_THIS_ROUND: list[str] = [
    "payload_term_tfidf", "payload_term_lmd", "join_terms_multi",
    "multi_phrase_sloppy3", "regexp", "complex_phrase", "join_terms_total_seg",
    "payload_near_tfidf", "payload_near_lmd",
    "surround_w", "surround_prefix_near", "surround_bool",
    "field_labels_multi", "field_labels_role",
    "xml_bool", "xml_span_near", "xml_filtered",
    "flex_precedence", "flex_open_range", "flex_multifield",
    "term_german", "bool_swedish", "dedup_clusters", "dedup_keep",
    "decontam_keep",
    # one representative per language-wave mechanism inside the 50-row
    # budget (elision, recursive-CTE oracle, excl sets, recursive Indic
    # scan, 23-rule Greek, 5-step Brazilian, Cyrillic stops,
    # stop-before-normalize, derivational flags); the remaining variants
    # fall past the budget and are locally gate-checked instead
    "term_french", "term_stem_exclusion",
    "term_hindi", "term_greek", "term_brazilian", "term_cjk",
    "term_danish", "term_dutch", "term_armenian", "term_catalan",
    "term_romanian", "term_basque", "term_irish", "term_turkish",
    "term_ascii_fold", "synonym_or", "synonym_phrase",
    "edge_ngram_top", "ngram_top", "common_grams_top",
    "bool_russian", "term_arabic",
    "pii_scrub", "split_assign", "repetition_2gram",
    "strip_boilerplate", "unigram_bits", "sample_stratified",
    "explain_bm25", "explain_classic",
    "sort_multi", "search_after_turn", "facet_range_len", "diversified_topk",
    "shingle_top", "suggest_freetext", "pack_chunks",
    "term_indonesian", "term_finnish", "term_spanish", "term_italian",
    "term_portuguese", "term_norwegian",
    "term_hungarian", "term_czech", "term_latvian", "term_bulgarian",
    "term_galician", "term_persian", "term_sorani",
    "group_all", "group_heads", "distinct_values",
    "facet_range_score", "facet_sum_score", "dup_filter", "dup_filter_fast",
    "term_sweetspot", "phrase_sweetspot", "expr_sort", "expr_rescore",
    "phonetic_soundex_top", "phonetic_caverphone_top",
    "phonetic_refined_replace", "phonetic_nysiis_top",
    "phonetic_metaphone_top", "phonetic_cologne_top", "phonetic_mra_top",
    "phonetic_caverphone1_top", "phonetic_dmetaphone_top",
    "phonetic_dmetaphone_replace",
    "grouped_facets", "sorted_set_min", "sorted_set_middle_max",
    "suggest_infix", "suggest_blended",
    "filter_chain_top", "filter_pattern_top", "keyword_repeat_top",
    "word_delim_top",
    "term_whitespace", "term_simple", "term_classic", "bool_stop_tok",
    "classic_tokens_top", "keyword_tokens_top",
    "terms_filter", "field_value_filter", "bool_filter",
    "chained_filter_xor",
    "scandinavian_fold_top", "scandinavian_norm_top", "capitalization_top",
    "hyphenated_top", "type_token_num_top", "pattern_capture_top",
    "keep_word_top",
    "mapping_cf_top", "pattern_cf_top", "path_hier_top", "path_hier_rev_top",
    "auto_stop_or",
    "stemmer_override_top", "codepoint_limit_top", "word_break_2",
    "word_break_3", "word_combine",
    "compound_top", "fuzzy_like_this_top", "slow_fuzzy",
    "fst_completion_top", "wfst_lookup_top", "tst_lookup_top",
    "jaspell_popular_top",
    "spell_classic_lev", "spell_classic_dl",
    "pattern_tok_split", "pattern_tok_group", "tee_sink_top",
    "high_freq_terms_ttf", "html_strip_top",
    "prefix_filter", "numeric_range_filter", "fieldcache_terms_filter",
    "fieldcache_range_filter", "doc_term_ords_range", "ngram_phrase",
    "wikipedia_top", "vs_reciprocal", "vs_scale",
    "spatial_rpt_rect", "spatial_rpt_disjoint", "spatial_quad_rect",
    "spatial_pv_circle", "spatial_dist_sort", "spatial_dist_grid",
    "spatial_recip", "vs_ord", "vs_reverse_ord", "quality_trec",
    "term_phonetic_index", "term_phonetic_replace",
    "jaspell_almost_top", "jaspell_almost_alpha",
    "phonetic_dm_top", "phonetic_dm_codes",
]
_LAST_GREEN_R02 = [
    "span_first", "span_near", "suggest_prefix", "spell_suggest",
    "highlight_hot", "more_like_this", "join_parent_max", "join_parent_total",
    "dedup_exact", "dedup_minhash_pairs", "dedup_jaccard", "doc_token_stats",
    "doc_quality", "doc_lang", "doc_fingerprint", "ann_cosine_topk",
    "ann_lsh_topk", "emb_bucket_hist", "emb_near_dups",
]
_LAST_GREEN_R03 = [
    "bool_cross_field", "boost_should", "common_terms", "common_terms_allhigh",
    "common_terms_msm", "constant_score_bool", "count_hits", "doclen",
    "facet_drilldown", "facet_role", "facet_sideways", "facet_tree",
    "field_role_term", "filtered_role", "fuzzy", "group_top2", "match_all",
    "multi_phrase_sloppy", "norm_hist", "payload_term", "payload_term_max",
    "prefix", "search_after", "sort_by_ts", "term_bb2", "term_dfr", "term_ib",
    "term_ib_spl", "term_inb2", "term_ineb2", "term_lmd", "term_lmjm",
    "term_pl2", "term_range", "term_stats_top", "term_tfidf", "wildcard",
]


def _prioritize(out: dict) -> dict:
    ordered = _NEVER_GREEN + _NEW_THIS_ROUND + _LAST_GREEN_R02 + _LAST_GREEN_R03
    front = [k for k in ordered if k in out]
    rest = [k for k in out if k not in front]
    return {k: out[k] for k in front + rest}


def oracle_sql() -> dict[str, str]:
    P = es.prelude()
    out = {
        "term_hot": es.term_sql(HOT),
        "term_mid": es.term_sql(MID, k=25),
        "term_absent": es.term_sql(ABSENT),
        "term_stopword": es.term_sql(STOP),
        "bool_and2": es.boolean_sql(must=[HOT, T3]),
        "bool_and3": es.boolean_sql(must=[HOT, T3, T4], k=20),
        "bool_or5": es.boolean_sql(should=[HOT, MID, T3, T4, T5], k=20),
        "bool_mixed": es.boolean_sql(must=[HOT], should=[MID], must_not=[T5]),
        "bool_msm2": es.boolean_sql(should=[HOT, MID, T3, T4], min_should_match=2, k=15),
        "dismax": es.dismax_sql([HOT, MID], 0.3, k=15),
        "phrase_exact": es.phrase_sql(["table", "hash"], k=15),
        "phrase_sloppy": es.phrase_sql(["value", "table"], slop=3, k=15),
        "multi_phrase": es.phrase_sql([["table", "value"], ["hash"]], k=15),
        "multi_phrase_sloppy": es.phrase_sql(
            [["value", "small"], ["table"]], slop=3, k=15
        ),
        "multi_phrase_sloppy3": es.phrase_sql(
            [["value", "small"], ["table"], ["hash", "data"]], slop=4, k=15
        ),
        "payload_term": es.payload_term_sql(MID, k=15),
        "payload_term_tfidf": es.payload_term_sim_sql(MID, "classic", k=15),
        "payload_term_lmd": es.payload_term_sim_sql(MID, "lmd", k=15),
        "payload_term_max": es.payload_term_sql(
            HOT, function="max", include_span_score=False, k=15
        ),
        "field_role_term": es.kw_term_sql("role", "user", k=15),
        "field_labels_multi": es.kw_term_sql(
            "labels", "src7", k=15, cond="(role = 'src7' OR tool = 'src7')"
        ),
        "field_labels_role": es.kw_term_sql(
            "labels", "assistant", k=15,
            cond="(role = 'assistant' OR tool = 'assistant')",
        ),
        "bool_cross_field": es.cross_field_sql(HOT, "role", "user", k=15),
        "prefix": es.constant_score_sql("term LIKE 'sc%'", 100000),
        "wildcard": es.constant_score_sql("regexp_matches(term, '^sc.n$')", 100000),
        "regexp": es.constant_score_sql(
            "regexp_matches(term, '^(?:(?:sc)[ae]n|filt.r{1,2})$')", 100000
        ),
        "term_range": es.constant_score_sql("term >= 'm' AND term <= 't'", 100000),
        "search_after": es.boolean_sql(should=[HOT], k=10, offset=10),
        "match_all": f"""{P}
SELECT docid, CAST(CAST(1.0 AS DOUBLE) AS REAL) AS score
FROM docs ORDER BY docid LIMIT 1000000""",
        "count_hits": f"""{P}
SELECT count(*) AS n_hits FROM scored WHERE term = '{HOT}'""",
        "facet_role": f"""{P}
SELECT d.role AS role, count(*) AS n
FROM (SELECT DISTINCT docid FROM scored WHERE term = '{HOT}') h
JOIN docs d ON h.docid = d.docid
GROUP BY d.role ORDER BY role""",
        # drill-down: role='tool' docs expose tool = source (the transcript
        # mapping in entry_support.transcripts_from_documents)
        "facet_drilldown": f"""{P}
SELECT dd.source AS tool, count(*) AS n
FROM (SELECT DISTINCT docid FROM scored WHERE term = '{HOT}') h
JOIN docs d ON h.docid = d.docid
JOIN documents dd ON d.doc_id = dd.doc_id
WHERE d.role = 'tool' AND dd.source IS NOT NULL
GROUP BY 1 ORDER BY tool""",
        # taxonomy rollup: every role/tool path prefix with its hit count;
        # GROUPING() distinguishes rolled-up levels from null labels
        "facet_tree": f"""{P},
base AS (
  SELECT d.role, CASE WHEN d.role = 'tool' THEN dd.source END AS tool
  FROM (SELECT DISTINCT docid FROM scored WHERE term = '{HOT}') h
  JOIN docs d ON h.docid = d.docid
  JOIN documents dd ON d.doc_id = dd.doc_id
)
SELECT path, n FROM (
  SELECT CASE WHEN GROUPING(tool) = 1 THEN role
         ELSE role || '/' || tool END AS path,
         count(*) AS n,
         GROUPING(role) AS g0, GROUPING(tool) AS g1, tool AS tv
  FROM base
  GROUP BY ROLLUP(role, tool)
) WHERE g0 = 0 AND (g1 = 1 OR tv IS NOT NULL)
ORDER BY path""",
        # drill-sideways: per drill dim, counts with the OTHER drills applied
        "facet_sideways": f"""{P},
base AS (
  SELECT h.docid, d.role,
         CASE WHEN d.role = 'tool' THEN dd.source END AS tool
  FROM (SELECT DISTINCT docid FROM scored WHERE term = '{HOT}') h
  JOIN docs d ON h.docid = d.docid
  JOIN documents dd ON d.doc_id = dd.doc_id
)
SELECT dim, value, n FROM (
  SELECT 'role' AS dim, role AS value, count(*) AS n
  FROM base WHERE tool = 'src1' AND role IS NOT NULL GROUP BY role
  UNION ALL
  SELECT 'tool' AS dim, tool AS value, count(*) AS n
  FROM base WHERE role = 'tool' AND tool IS NOT NULL GROUP BY tool
)
ORDER BY dim, value""",
        "group_top2": f"""{P},
hits AS (
  SELECT s.docid, s.s AS score, d.conv_id,
         row_number() OVER (PARTITION BY d.conv_id ORDER BY s.s DESC, s.docid ASC) AS rk
  FROM scored s JOIN docs d ON s.docid = d.docid
  WHERE s.term = '{HOT}'
)
SELECT conv_id, docid, score, CAST(rk AS INT) AS rank_in_group
FROM hits WHERE rk <= 2""",
        "sort_by_ts": f"""{P}
SELECT s.docid,
       strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(d.doc_id), '%Y-%m-%d %H:%M:%S') AS ts_s
FROM scored s JOIN docs d ON s.docid = d.docid
WHERE s.term = '{HOT}'
ORDER BY d.doc_id ASC LIMIT 15""",
        "sort_multi": f"""{P}
SELECT s.docid, d.tool, CAST(d.turn_idx AS INT) AS turn_idx
FROM scored s JOIN docs d ON s.docid = d.docid
WHERE s.term = '{HOT}'
ORDER BY d.tool ASC NULLS LAST, d.turn_idx DESC, s.docid ASC LIMIT 15""",
        "search_after_turn": f"""{P}
SELECT s.docid, CAST(d.turn_idx AS INT) AS turn_idx
FROM scored s JOIN docs d ON s.docid = d.docid
WHERE s.term = '{HOT}'
ORDER BY d.turn_idx ASC, s.docid ASC LIMIT 20 OFFSET 20""",
        "facet_range_len": f"""{P},
h AS (
  SELECT l.fl
  FROM (SELECT DISTINCT docid FROM scored WHERE term = '{HOT}') s
  JOIN lens l ON s.docid = l.docid
)
SELECT 'short' AS label, count(*) FILTER (WHERE fl >= 0 AND fl < 10) AS n FROM h
UNION ALL
SELECT 'mid', count(*) FILTER (WHERE fl >= 10 AND fl < 25) FROM h
UNION ALL
SELECT 'long', count(*) FILTER (WHERE fl >= 25 AND fl <= 1048576) FROM h
UNION ALL
SELECT 'all', count(*) FILTER (WHERE fl >= 0 AND fl <= 1048576) FROM h""",
        "diversified_topk": f"""{P},
hits AS (
  SELECT d.conv_id AS key, s.docid, s.s AS score,
         row_number() OVER (
           PARTITION BY d.conv_id ORDER BY s.s DESC, s.docid ASC
         ) AS rk
  FROM scored s JOIN docs d ON s.docid = d.docid WHERE s.term = '{HOT}'
)
SELECT key, docid, score FROM hits WHERE rk <= 1
ORDER BY score DESC, docid ASC LIMIT 12""",
        "doclen": f"""{P}
SELECT docid, CAST(fl AS BIGINT) AS len_tokens FROM lens""",
        "term_stats_top": f"""{P}
SELECT term, CAST(df AS BIGINT) AS df, CAST(ttf AS BIGINT) AS ttf
FROM tstats ORDER BY df DESC, term ASC LIMIT 20""",
        "norm_hist": f"""{P}
SELECT CAST(v.byte AS INT) AS norm_byte, count(*) AS n
FROM lens l JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
GROUP BY v.byte ORDER BY norm_byte""",
    }

    # boosted / filtered / fuzzy
    out["boost_should"] = es.boosted_should_sql([(HOT, 2.5), (MID, 1.0)], k=15)
    out["common_terms"] = es.common_terms_sql([HOT, T5, "dup"], 0.5, k=15)
    out["common_terms_msm"] = es.common_terms_sql(
        [HOT, T5, "dup", ABSENT], 0.5,
        low_occur="SHOULD", low_msm=1, high_msm=2, k=15,
    )
    out["common_terms_allhigh"] = es.common_terms_sql([HOT, T5], 0.05, k=15)
    out["constant_score_bool"] = f"""{P}
SELECT docid, CAST(CAST(2.0 AS DOUBLE) AS REAL) AS score
FROM posting WHERE term = '{HOT}'
  AND docid IN (SELECT docid FROM posting WHERE term = '{T3}')
ORDER BY score DESC, docid ASC
LIMIT 30"""
    out["filtered_role"] = es.boolean_sql(
        should=[HOT],
        k=15,
        extra_where="docid IN (SELECT docid FROM docs WHERE role = 'user')",
    )
    # Filter family (round 5n): docid-set algebra, constant scores
    out["terms_filter"] = f"""{P},
ids AS (
  SELECT docid FROM docs WHERE role = 'tool'
  UNION
  SELECT docid FROM posting WHERE term = '{MID}'
)
SELECT docid, CAST(CAST(1.5 AS DOUBLE) AS REAL) AS score
FROM ids ORDER BY docid ASC LIMIT 20"""
    out["field_value_filter"] = es.boolean_sql(
        should=[HOT],
        k=15,
        extra_where="docid IN (SELECT docid FROM docs WHERE tool IS NOT NULL)",
    )
    out["bool_filter"] = f"""{P},
ids AS (
  SELECT docid FROM posting WHERE term IN ('{MID}', '{T3}')
  EXCEPT
  SELECT docid FROM docs WHERE tool IS NOT NULL
)
SELECT docid, CAST(CAST(1.0 AS DOUBLE) AS REAL) AS score
FROM ids ORDER BY docid ASC LIMIT 25"""
    out["chained_filter_xor"] = f"""{P},
a AS (SELECT DISTINCT docid FROM posting WHERE term = '{HOT}'),
b AS (SELECT DISTINCT docid FROM posting WHERE term = '{MID}'),
ids AS (
  (SELECT docid FROM a EXCEPT SELECT docid FROM b)
  UNION
  (SELECT docid FROM b EXCEPT SELECT docid FROM a)
)
SELECT docid, CAST(CAST(1.0 AS DOUBLE) AS REAL) AS score
FROM ids ORDER BY docid ASC LIMIT 25"""
    out["fuzzy"] = es.fuzzy_sql("batc", 1, 20)
    out["term_tfidf"] = es.classic_term_sql(HOT, k=15)
    out["explain_bm25"] = es.explain_term_sql(MID, k=12)
    out["explain_classic"] = es.explain_classic_sql(MID, k=12)
    out["shingle_top"] = es.shingle_top_sql(20)
    out["phonetic_soundex_top"] = es.phonetic_top_sql("soundex", True, 20)
    out["phonetic_caverphone_top"] = es.phonetic_top_sql("caverphone2", True, 20)
    out["phonetic_refined_replace"] = es.phonetic_top_sql(
        "refined_soundex", False, 20
    )
    out["phonetic_nysiis_top"] = es.phonetic_top_sql("nysiis", True, 20)
    out["phonetic_metaphone_top"] = es.phonetic_top_sql("metaphone", True, 20)
    out["phonetic_cologne_top"] = es.phonetic_top_sql("cologne", True, 20)
    out["phonetic_mra_top"] = es.phonetic_top_sql("match_rating", True, 20)
    out["phonetic_caverphone1_top"] = es.phonetic_top_sql("caverphone1", False, 20)
    out["phonetic_dmetaphone_top"] = es.dmetaphone_top_sql(True, 20)
    out["phonetic_dmetaphone_replace"] = es.dmetaphone_top_sql(False, 20)
    out["phonetic_dm_top"] = es.phonetic_top_sql("daitch_mokotoff", True, 20)
    out["phonetic_dm_codes"] = es.dm_codes_sql(40)
    out["edge_ngram_top"] = es.edge_ngram_top_sql(1, 3, k=20)
    out["ngram_top"] = es.ngram_top_sql(2, 3, k=20)
    out["common_grams_top"] = es.common_grams_top_sql(20)
    out["suggest_freetext"] = es.freetext_suggest_sql(HOT, "s", k=10)
    out["term_lmd"] = es.lmd_term_sql(HOT, k=15)
    out["phrase_tfidf"] = es.phrase_sim_sql(["table", "hash"], "classic", k=15)
    out["phrase_lmd"] = es.phrase_sim_sql(["value", "table"], "lmd", k=15, slop=2)
    out["term_stemmed"] = es.term_sql("merg", k=15, analyzer="english")
    out["term_german"] = es.term_sql("merg", k=15, analyzer="german")
    out["bool_swedish"] = es.boolean_sql(
        must=["merg"], should=["batch"], k=15, analyzer="swedish"
    )
    out["term_stem_exclusion"] = es.term_sql(
        "merge", k=15, analyzer="english:excl=merge"
    )
    out["term_french"] = es.term_sql("merg", k=15, analyzer="french")
    out["term_spanish"] = es.term_sql("merg", k=15, analyzer="spanish")
    out["term_italian"] = es.term_sql("column", k=15, analyzer="italian")
    out["term_portuguese"] = es.term_sql("merg", k=15, analyzer="portuguese")
    out["term_norwegian"] = es.term_sql("merg", k=15, analyzer="norwegian")
    out["term_finnish"] = es.term_sql("merg", k=15, analyzer="finnish")
    out["term_hungarian"] = es.term_sql("merg", k=15, analyzer="hungarian")
    out["term_czech"] = es.term_sql("merg", k=15, analyzer="czech")
    out["term_latvian"] = es.term_sql("merg", k=15, analyzer="latvian")
    out["term_indonesian"] = es.term_sql("customer", k=15, analyzer="indonesian")
    out["term_bulgarian"] = es.term_sql("merge", k=15, analyzer="bulgarian")
    out["bool_russian"] = es.boolean_sql(
        must=["merge"], should=["the"], k=15, analyzer="russian"
    )
    out["term_galician"] = es.term_sql("merge", k=15, analyzer="galician")
    out["term_arabic"] = es.term_sql("merge", k=15, analyzer="arabic")
    out["term_persian"] = es.term_sql("merge", k=15, analyzer="persian")
    out["term_sorani"] = es.term_sql("merge", k=15, analyzer="sorani")
    out["term_greek"] = es.term_sql("merge", k=15, analyzer="greek")
    out["term_hindi"] = es.term_sql("merge", k=15, analyzer="hindi")
    out["term_brazilian"] = es.term_sql("merg", k=15, analyzer="brazilian")
    out["term_cjk"] = es.term_sql("merge", k=15, analyzer="cjk")
    out["term_danish"] = es.term_sql("merg", k=15, analyzer="danish")
    out["term_dutch"] = es.term_sql("merg", k=15, analyzer="dutch")
    out["term_armenian"] = es.term_sql("merge", k=15, analyzer="armenian")
    out["term_catalan"] = es.term_sql("merg", k=15, analyzer="catalan")
    out["term_romanian"] = es.term_sql("merg", k=15, analyzer="romanian")
    out["term_basque"] = es.term_sql("mer", k=15, analyzer="basque")
    out["term_irish"] = es.term_sql("merge", k=15, analyzer="irish")
    out["term_turkish"] = es.term_sql("merge", k=15, analyzer="turkish")
    out["term_ascii_fold"] = es.term_sql(
        "merge", k=15, analyzer="standard:ascii"
    )
    # core-tokenizer slots (round 5n): whitespace keeps stops indexed and
    # in every norm; simple/stop tokenize letter runs only; classic ==
    # standard on the [a-z0-9 ] corpus domain (see entry_support._toks_cte)
    out["term_whitespace"] = es.term_sql("the", k=15, analyzer="whitespace")
    out["term_simple"] = es.term_sql("merge", k=15, analyzer="simple")
    out["term_classic"] = es.term_sql("merge", k=15, analyzer="classic")
    out["bool_stop_tok"] = es.boolean_sql(
        must=["batch"], should=["scan"], k=15, analyzer="stop"
    )
    # ClassicTokenizer grammar over the derived punctuated text: the token
    # decomposition is known analytically from the same source columns —
    # lang's APOSTROPHE strips 's, U.S.A. is an ACRONYM (dots removed),
    # lang@lang a COMPANY, www.<source>.com a HOST, v1-<lang> a NUM,
    # 1.2.3 a HOST, 'the' stop-filtered, 5000/batch plain ALPHANUM
    out["classic_tokens_top"] = """WITH cdocs AS (
  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS docid, lang, source
  FROM documents
),
em AS (
  SELECT docid,
         unnest([lang, 'usa', lang || '@' || lang,
                 'www.' || source || '.com', '5000',
                 'v1-' || lang, '1.2.3', 'batch']) AS term
  FROM cdocs
)
SELECT term, count(DISTINCT docid) AS df, count(*) AS ttf
FROM em GROUP BY term ORDER BY df DESC, term ASC LIMIT 20"""
    # KeywordAnalyzer: whole text = one token, no case fold, empty -> none
    out["keyword_tokens_top"] = """WITH cdocs AS (
  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS docid, text
  FROM documents
),
em AS (SELECT docid, text AS term FROM cdocs WHERE COALESCE(text, '') <> '')
SELECT term, count(DISTINCT docid) AS df, count(*) AS ttf
FROM em GROUP BY term ORDER BY df DESC, term ASC LIMIT 20"""
    # misc token filters, wave 2 (round 5n): identical text derivations,
    # whitespace tokens via duckdb_tokens_sql, then the analytic mirror
    from lucenenet_spark.functions.analysis import duckdb_tokens_sql
    from lucenenet_spark.functions.miscfilters2 import (
        scandinavian_fold_sql,
        scandinavian_norm_cte,
    )

    _WS = duckdb_tokens_sql("dtext", "whitespace")
    _SCAND_DTEXT = (
        "regexp_replace(regexp_replace(text, 'a', 'ae', 'g'), 'o', 'oo', "
        "'g') || ' blåbærsyltetøj räksmörgås Oo AE'"
    )
    _DIGITS_DTEXT = (
        "text || ' 5000 7x ' || lang || '42 ' || CAST(length(text) AS "
        "VARCHAR)"
    )
    _STATS = """SELECT term, count(DISTINCT doc_id) AS df, count(*) AS ttf
FROM em GROUP BY term ORDER BY df DESC, term ASC LIMIT 20"""
    out["scandinavian_fold_top"] = f"""WITH sdocs AS (
  SELECT doc_id, {_SCAND_DTEXT} AS dtext FROM documents
),
stoks AS (SELECT doc_id, unnest({_WS}) AS tok FROM sdocs),
em AS (SELECT doc_id, {scandinavian_fold_sql('tok')} AS term FROM stoks)
{_STATS}"""
    out["scandinavian_norm_top"] = f"""WITH RECURSIVE sdocs AS (
  SELECT doc_id, {_SCAND_DTEXT} AS dtext FROM documents
),
rawtoks AS (SELECT doc_id, unnest({_WS}) AS tok FROM sdocs),
{scandinavian_norm_cte('rawtoks')},
em AS (
  SELECT r.doc_id, m.norm AS term FROM rawtoks r JOIN normmap m USING (tok)
)
{_STATS}"""
    # keyword token of UPPER(text) through CapitalizationFilter: word 0
    # ucfirst, later words lowercased; on the single-space [a-z ] corpus
    # that is exactly ucfirst of the original text
    out["capitalization_top"] = f"""WITH em AS (
  SELECT doc_id, upper(substr(text, 1, 1)) || substr(text, 2) AS term
  FROM documents WHERE COALESCE(text, '') <> ''
)
{_STATS}"""
    # hyphen merge as a window fold: group = # of non-hyphen-final tokens
    # strictly before (parts + their closer share one group); a group
    # with no closer is the stream-final dangler, hyphen restored
    out["hyphenated_top"] = f"""WITH hdocs AS (
  SELECT doc_id,
         regexp_replace(text, 's ', '- ', 'g') || ' end-' AS dtext
  FROM documents
),
htoks AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS ord, unnest(toks) AS tok
  FROM (SELECT doc_id, {_WS} AS toks FROM hdocs)
),
marked AS (
  SELECT doc_id, ord, tok,
         COALESCE(sum(CASE WHEN NOT ends_with(tok, '-') THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY ord
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS grp
  FROM htoks
),
em AS (
  SELECT doc_id,
         string_agg(
           CASE WHEN ends_with(tok, '-')
                THEN substr(tok, 1, len(tok) - 1) ELSE tok END,
           '' ORDER BY ord)
         || CASE WHEN bool_and(ends_with(tok, '-')) THEN '-' ELSE '' END
           AS term
  FROM marked GROUP BY doc_id, grp
)
{_STATS}"""
    out["type_token_num_top"] = f"""WITH ndocs AS (
  SELECT doc_id, {_DIGITS_DTEXT} AS dtext FROM documents
),
ntoks AS (SELECT doc_id, unnest({_WS}) AS tok FROM ndocs),
em AS (
  SELECT doc_id, tok AS term FROM ntoks
  WHERE regexp_matches(tok, '^[0-9]+$')
)
{_STATS}"""
    out["pattern_capture_top"] = f"""WITH ndocs AS (
  SELECT doc_id, {_DIGITS_DTEXT} AS dtext FROM documents
),
ntoks AS (SELECT doc_id, unnest({_WS}) AS tok FROM ndocs),
em AS (
  SELECT doc_id, tok AS term FROM ntoks
  UNION ALL
  SELECT doc_id, regexp_extract(tok, '^([a-z]+)([0-9]+)$', 1) AS term
  FROM ntoks WHERE regexp_matches(tok, '^[a-z]+[0-9]+$')
  UNION ALL
  SELECT doc_id, regexp_extract(tok, '^([a-z]+)([0-9]+)$', 2) AS term
  FROM ntoks WHERE regexp_matches(tok, '^[a-z]+[0-9]+$')
)
{_STATS}"""
    out["keep_word_top"] = f"""WITH kdocs AS (
  SELECT doc_id, text AS dtext FROM documents
),
ktoks AS (SELECT doc_id, unnest({_WS}) AS tok FROM kdocs),
em AS (
  SELECT doc_id, tok AS term FROM ktoks
  WHERE tok IN ('the', 'batch', 'scan', 'merge')
)
{_STATS}"""
    # CharFilter stage + path tokenizers + auto stop (round 5o)
    out["mapping_cf_top"] = f"""WITH mdocs AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(text, 'a', 'aa',
           'g'), 'aa', 'x', 'g'), 'b', 'yy', 'g') AS dtext
  FROM documents
),
em AS (SELECT doc_id, unnest({_WS}) AS term FROM mdocs)
{_STATS}"""
    out["pattern_cf_top"] = f"""WITH pdocs AS (
  SELECT doc_id,
         regexp_replace(text, '([a-z]+) ([a-z]+)', '\\1_\\2', 'g') AS dtext
  FROM documents
),
em AS (SELECT doc_id, unnest({_WS}) AS term FROM pdocs)
{_STATS}"""
    out["path_hier_top"] = f"""WITH em AS (
  SELECT doc_id,
         unnest([lang, lang || '/' || source,
                 lang || '/' || source || '/']) AS term
  FROM documents
)
{_STATS}"""
    out["path_hier_rev_top"] = f"""WITH em AS (
  SELECT doc_id,
         unnest([lang || '/' || source || '/', source || '/']) AS term
  FROM documents
)
{_STATS}"""
    out["auto_stop_or"] = es.boolean_sql(should=["dup"], k=15)
    # misc filters wave 3 + WordBreakSpellChecker (round 5p)
    out["stemmer_override_top"] = f"""{P},
rawtoks AS (SELECT docid, unnest(tokens) AS tok FROM toks),
{es._porter_sql_pipeline()},
em AS (
  SELECT r.docid AS doc_id,
         CASE WHEN r.tok = 'query' THEN r.tok
              WHEN r.tok = 'value' THEN 'VAL'
              ELSE m.stem END AS term
  FROM rawtoks r JOIN stemmap m ON r.tok = m.tok
)
{_STATS}"""
    out["codepoint_limit_top"] = f"""WITH cldocs AS (
  SELECT doc_id, text AS dtext FROM documents
),
cltoks AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS ord, unnest(toks) AS tok
  FROM (SELECT doc_id, {_WS} AS toks FROM cldocs)
),
em AS (
  SELECT doc_id, tok AS term FROM cltoks
  WHERE ord <= 5 AND len(tok) BETWEEN 2 AND 6
)
{_STATS}"""
    # word breaks: enumerate every split point, keep those whose parts all
    # have df >= 1, rank fewest-words then max part-df desc (the
    # NUM_CHANGES_THEN_MAX_FREQUENCY queue order), emit per-word rows
    out["word_break_2"] = f"""{P},
tdf AS (SELECT term, count(DISTINCT docid) AS df FROM posting GROUP BY term),
splits AS (
  SELECT CAST(i AS INT) AS i,
         substr('batchstream', 1, CAST(i AS INT)) AS l,
         substr('batchstream', CAST(i AS INT) + 1) AS r
  FROM generate_series(1, 10) t(i)
),
ok AS (
  SELECT s.i, s.l, s.r, dl.df AS dfl, dr.df AS dfr
  FROM splits s
  JOIN tdf dl ON dl.term = s.l JOIN tdf dr ON dr.term = s.r
),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY greatest(dfl, dfr) DESC, i) - 1
         AS INT) AS rank, * FROM ok
)
SELECT rank, CAST(0 AS INT) AS word_idx, l AS word,
       CAST(dfl AS BIGINT) AS freq, CAST(1 AS INT) AS score FROM ranked
UNION ALL
SELECT rank, CAST(1 AS INT), r, CAST(dfr AS BIGINT), CAST(1 AS INT)
FROM ranked"""
    out["word_break_3"] = f"""{P},
tdf AS (SELECT term, count(DISTINCT docid) AS df FROM posting GROUP BY term),
two AS (
  SELECT CAST(i AS INT) AS i,
         substr('keyrowdata', 1, CAST(i AS INT)) AS a,
         substr('keyrowdata', CAST(i AS INT) + 1) AS b
  FROM generate_series(1, 9) t(i)
),
two_ok AS (
  SELECT s.i, s.a, s.b, da.df AS dfa, db.df AS dfb
  FROM two s JOIN tdf da ON da.term = s.a JOIN tdf db ON db.term = s.b
),
three AS (
  SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
         substr('keyrowdata', 1, CAST(i AS INT)) AS a,
         substr('keyrowdata', CAST(i AS INT) + 1,
                CAST(j AS INT) - CAST(i AS INT)) AS b,
         substr('keyrowdata', CAST(j AS INT) + 1) AS c
  FROM generate_series(1, 9) t(i), generate_series(1, 9) u(j)
  WHERE j > i
),
three_ok AS (
  SELECT s.i, s.j, s.a, s.b, s.c, da.df AS dfa, db.df AS dfb, dc.df AS dfc
  FROM three s
  JOIN tdf da ON da.term = s.a JOIN tdf db ON db.term = s.b
  JOIN tdf dc ON dc.term = s.c
  WHERE da.df >= 1
),
sugg AS (
  SELECT 2 AS n, i, 0 AS j, a, b, CAST(NULL AS VARCHAR) AS c,
         dfa, dfb, CAST(NULL AS BIGINT) AS dfc,
         greatest(dfa, dfb) AS fmax
  FROM two_ok
  UNION ALL
  SELECT 3, i, j, a, b, c, dfa, dfb, dfc, greatest(dfa, dfb, dfc)
  FROM three_ok
),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY n ASC, fmax DESC, i, j) - 1
         AS INT) AS rank, * FROM sugg
)
SELECT rank, CAST(0 AS INT) AS word_idx, a AS word,
       CAST(dfa AS BIGINT) AS freq, CAST(n - 1 AS INT) AS score FROM ranked
UNION ALL
SELECT rank, CAST(1 AS INT), b, CAST(dfb AS BIGINT), CAST(n - 1 AS INT)
FROM ranked
UNION ALL
SELECT rank, CAST(2 AS INT), c, CAST(dfc AS BIGINT), CAST(n - 1 AS INT)
FROM ranked WHERE n = 3"""
    out["word_combine"] = f"""{P},
tdf AS (SELECT term, count(DISTINCT docid) AS df FROM posting GROUP BY term),
dfq AS (
  SELECT
    (SELECT COALESCE(max(df), 0) FROM tdf WHERE term = 'ba') AS df_left,
    (SELECT COALESCE(max(df), 0) FROM tdf WHERE term = 'tch') AS df_right,
    (SELECT COALESCE(max(df), 0) FROM tdf WHERE term = 'batch') AS df_comb
)
SELECT 'batch' AS word, CAST(df_comb AS BIGINT) AS freq,
       CAST(1 AS INT) AS score, CAST(0 AS INT) AS idx0, CAST(1 AS INT) AS idx1
FROM dfq
WHERE least(df_left, df_right) = 0 AND df_comb >= 1"""
    # compound words + Sandbox fuzzy (round 5q)
    _CDICT = ("cust", "mer", "win", "dow", "stream", "able")
    _CVALS = ", ".join(f"('{w}')" for w in _CDICT)
    out["compound_top"] = f"""WITH cwdocs AS (
  SELECT doc_id, text AS dtext FROM documents
),
cwtoks AS (SELECT doc_id, unnest({_WS}) AS tok FROM cwdocs),
dwords(w) AS (VALUES {_CVALS}),
em AS (
  SELECT doc_id, tok AS term FROM cwtoks
  UNION ALL
  SELECT t.doc_id, t.tok[CAST(g.i AS INT) : CAST(g.i AS INT) + len(d.w) - 1]
         AS term
  FROM cwtoks t
  CROSS JOIN dwords d
  CROSS JOIN generate_series(1, 24) g(i)
  WHERE len(t.tok) >= 5
    AND CAST(g.i AS INT) + len(d.w) - 1 <= len(t.tok)
    AND substr(t.tok, CAST(g.i AS INT), len(d.w)) = d.w
)
{_STATS}"""

    import numpy as _np

    def _flt_variant_cte(idx: int, src: str, min_sim: float) -> str:
        """Per-source-term variant derivation: automaton-path boost chain
        (maxEdits <= 2), f32 step for step, top-10 by (boost, term), idf
        with source-df-else-integer-mean fallback."""
        n = len(src)
        max_ed = int((1.0 - min_sim) * n)
        assert max_ed <= 2  # gate terms chosen on the automaton path
        ms = float(_np.float32(min_sim))
        scale = float(
            _np.float32(
                _np.float32(1.0) / (_np.float32(1.0) - _np.float32(min_sim))
            )
        )
        return f"""cand{idx} AS (
  SELECT term, df, levenshtein(term, '{src}') AS ed FROM tstats
  WHERE length(term) BETWEEN {n - max_ed} AND {n + max_ed}
),
acc{idx} AS (
  SELECT term, df, ed,
         CASE WHEN ed = 0 THEN CAST(1.0 AS REAL)
              ELSE CAST(CAST(CAST(1.0 AS REAL)
                   - CAST(CAST(ed AS REAL)
                          / CAST(least(length(term), {n}) AS REAL) AS REAL)
                   AS REAL)
                   - CAST(CAST({ms!r} AS DOUBLE) AS REAL) AS REAL)
         END AS premul
  FROM cand{idx}
  WHERE ed <= {max_ed}
    AND (ed = 0 OR
         CAST(CAST(1.0 AS REAL)
              - CAST(CAST(ed AS REAL)
                     / CAST(least(length(term), {n}) AS REAL) AS REAL)
              AS REAL) > CAST(CAST({ms!r} AS DOUBLE) AS REAL))
),
boost{idx} AS (
  SELECT term, df,
         CASE WHEN ed = 0 THEN CAST(1.0 AS REAL)
              ELSE CAST(premul * CAST(CAST({scale!r} AS DOUBLE) AS REAL)
                   AS REAL)
         END AS b
  FROM acc{idx}
),
dfu{idx} AS (
  SELECT CASE
    WHEN (SELECT COALESCE(max(df), 0) FROM tstats WHERE term = '{src}') > 0
    THEN (SELECT max(df) FROM tstats WHERE term = '{src}')
    ELSE (SELECT sum(df) // count(*) FROM boost{idx})
  END AS df_use
),
fin{idx} AS (
  SELECT term,
         CAST(CAST(b * b AS REAL)
              * CAST(ln(CAST((SELECT max_doc FROM fstats) AS DOUBLE)
                        / CAST((SELECT df_use FROM dfu{idx}) + 1 AS DOUBLE))
                     + 1.0 AS REAL) AS REAL) AS boost
  FROM (SELECT term, b FROM boost{idx} ORDER BY b DESC, term LIMIT 10)
)"""

    out["fuzzy_like_this_top"] = f"""{P},
{_flt_variant_cte(0, 'sost', 0.4)},
{_flt_variant_cte(1, 'batc', 0.4)},
pool AS (
  SELECT term, boost FROM (
    SELECT term, boost FROM fin0 UNION ALL SELECT term, boost FROM fin1
  ) ORDER BY boost DESC, term LIMIT 50
),
matched AS (
  SELECT DISTINCT p.docid, q.term, q.boost
  FROM posting p JOIN pool q ON p.term = q.term
)
SELECT docid,
       list_reduce(list(boost ORDER BY term), (x, y) -> CAST(x + y AS REAL))
         AS score
FROM matched GROUP BY docid
ORDER BY score DESC, docid ASC
LIMIT 15"""

    # linear-path SlowFuzzyQuery: maxEdits = int(.5*7) = 3 > 2, so the
    # similarity denominator is prefix + min(post-prefix lengths)
    out["slow_fuzzy"] = f"""{P},
scand AS (
  SELECT term, levenshtein(term, 'windoww') AS ed FROM tstats
  WHERE length(term) BETWEEN 4 AND 10
),
sacc AS (
  SELECT term,
         CAST(CAST(CAST(1.0 AS REAL)
              - CAST(CAST(ed AS REAL)
                     / CAST(least(length(term), 7) AS REAL) AS REAL)
              AS REAL)
              - CAST(0.5 AS REAL) AS REAL) AS premul
  FROM scand
  WHERE CAST(CAST(1.0 AS REAL)
             - CAST(CAST(ed AS REAL)
                    / CAST(least(length(term), 7) AS REAL) AS REAL)
             AS REAL) > CAST(0.5 AS REAL)
),
sboost AS (
  SELECT term, CAST(premul * CAST(2.0 AS REAL) AS REAL) AS b
  FROM (SELECT * FROM sacc ORDER BY CAST(premul * CAST(2.0 AS REAL) AS REAL)
        DESC, term LIMIT 50)
),
smatched AS (
  SELECT DISTINCT p.docid, q.term, q.b
  FROM posting p JOIN sboost q ON p.term = q.term
)
SELECT docid,
       list_reduce(list(b ORDER BY term), (x, y) -> CAST(x + y AS REAL))
         AS score
FROM smatched GROUP BY docid
ORDER BY score DESC, docid ASC
LIMIT 15"""
    # suggest lookup family (round 5r): whitespace vocab with df weights
    _LKV = f"""lkdocs AS (SELECT doc_id, text AS dtext FROM documents),
lktoks AS (SELECT doc_id, unnest({_WS}) AS tok FROM lkdocs),
vocab AS (
  SELECT tok AS term, count(DISTINCT doc_id) AS df
  FROM lktoks GROUP BY tok
)"""
    # FSTCompletionLookup bucket discretization: line = rank in (weight,
    # term) order; an equal-weight run reuses its FIRST line's bucket
    out["fst_completion_top"] = f"""WITH {_LKV},
lined AS (
  SELECT term, df,
         row_number() OVER (ORDER BY df, term) - 1 AS line,
         count(*) OVER () AS n
  FROM vocab
),
bucketed AS (
  SELECT term,
         CAST(min(line) OVER (PARTITION BY df) * 10 // n AS BIGINT)
           AS bucket
  FROM lined
)
SELECT CAST(row_number() OVER (ORDER BY bucket DESC, term) - 1 AS INT)
         AS rank,
       term AS key, bucket AS value
FROM bucketed WHERE term LIKE 's%'
ORDER BY rank LIMIT 4"""
    out["wfst_lookup_top"] = f"""WITH {_LKV}
SELECT CAST(row_number() OVER (ORDER BY df DESC, term) - 1 AS INT) AS rank,
       term AS key, CAST(df AS BIGINT) AS value
FROM vocab WHERE term LIKE 's%'
ORDER BY rank LIMIT 4"""
    out["tst_lookup_top"] = f"""WITH {_LKV}
SELECT CAST(row_number() OVER (ORDER BY term) - 1 AS INT) AS rank,
       term AS key, CAST(df AS BIGINT) AS value
FROM vocab WHERE term LIKE 's%'
ORDER BY rank LIMIT 4"""
    # Jaspell onlyMorePopular: rank the first num*2 ALPHABETICAL matches
    out["jaspell_popular_top"] = f"""WITH {_LKV},
slice AS (
  SELECT term, df FROM vocab WHERE term LIKE 's%' ORDER BY term LIMIT 4
)
SELECT CAST(row_number() OVER (ORDER BY df DESC, term) - 1 AS INT) AS rank,
       term AS key, CAST(df AS BIGINT) AS value
FROM slice ORDER BY rank LIMIT 2"""
    # Jaspell MatchAlmost (usePrefix=false): same-length, exactly-2
    # mismatched positions vs 'sant', walk (lex) order; popular mode ranks
    # the num*2 walk slice by weight
    _ALMOST_CAND = """cand AS (
  SELECT term, df FROM vocab
  WHERE length(term) = 4
    AND (CASE WHEN substr(term,1,1)<>'s' THEN 1 ELSE 0 END
       + CASE WHEN substr(term,2,1)<>'a' THEN 1 ELSE 0 END
       + CASE WHEN substr(term,3,1)<>'n' THEN 1 ELSE 0 END
       + CASE WHEN substr(term,4,1)<>'t' THEN 1 ELSE 0 END) = 2
)"""
    out["jaspell_almost_top"] = f"""WITH {_LKV},
{_ALMOST_CAND},
slice AS (SELECT term, df FROM cand ORDER BY term LIMIT 4)
SELECT CAST(row_number() OVER (ORDER BY df DESC, term) - 1 AS INT) AS rank,
       term AS key, CAST(df AS BIGINT) AS value
FROM slice ORDER BY rank LIMIT 2"""
    out["jaspell_almost_alpha"] = f"""WITH {_LKV},
{_ALMOST_CAND}
SELECT CAST(row_number() OVER (ORDER BY term) - 1 AS INT) AS rank,
       term AS key, CAST(df AS BIGINT) AS value
FROM cand ORDER BY rank LIMIT 3"""

    # classic SpellChecker (round 5s): candidates share >= 1 ngram of the
    # word (gram sizes by word length), score = f32 distance, accuracy
    # floor, (score desc, freq desc, term asc) total order
    def _spell_sql(word: str, dist_expr: str, accuracy: float, k: int) -> str:
        lo = 2 if len(word) == 5 else (3 if len(word) > 5 else 1)
        hi = 3 if len(word) == 5 else (4 if len(word) > 5 else 2)
        grams = sorted(
            {
                word[i : i + ng]
                for ng in range(lo, hi + 1)
                for i in range(len(word) - ng + 1)
            }
        )
        shares = " OR ".join(f"contains(term, '{g}')" for g in grams)
        return f"""{P},
tdf AS (SELECT term, count(DISTINCT docid) AS df FROM posting GROUP BY term),
cands AS (
  SELECT term, df FROM tdf WHERE ({shares}) AND term <> '{word}'
),
scoredw AS (
  SELECT term, df, {dist_expr} AS score FROM cands
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, df DESC, term) - 1
       AS INT) AS rank,
       term AS word, score, CAST(df AS BIGINT) AS freq
FROM scoredw
WHERE score >= CAST(CAST({accuracy!r} AS DOUBLE) AS REAL)
ORDER BY rank LIMIT {k}"""

    out["spell_classic_lev"] = _spell_sql(
        "batck",
        "CAST(CAST(1.0 AS REAL) - CAST(CAST(levenshtein(term, 'batck') "
        "AS REAL) / CAST(greatest(length(term), 5) AS REAL) AS REAL) "
        "AS REAL)",
        0.2,
        5,
    )
    out["spell_classic_dl"] = _spell_sql(
        "stble",
        "CAST(CAST(1.0 AS REAL) - CAST(CAST(damerau_levenshtein(term, "
        "'stble') AS REAL) / CAST(least(length(term), 5) AS REAL) AS REAL) "
        "AS REAL)",
        0.2,
        5,
    )
    # PatternTokenizer + TeeSink + HighFreqTerms (round 5t)
    out["pattern_tok_split"] = f"""WITH em AS (
  SELECT doc_id, unnest(
    list_filter(string_split_regex(text, 'a+'), t -> t <> '')
  ) AS term
  FROM documents
)
{_STATS}"""
    out["pattern_tok_group"] = f"""WITH em AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, '([a-z]+)r', 1)) AS term
  FROM documents
)
{_STATS}"""
    out["tee_sink_top"] = f"""WITH tsdocs AS (
  SELECT doc_id,
         text || ' 20240101 7x ' || lang || '42 '
              || CAST(length(text) AS VARCHAR) AS dtext
  FROM documents
),
tstoks AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS ord, unnest(toks) AS tok
  FROM (SELECT doc_id, {_WS} AS toks FROM tsdocs)
),
em AS (
  SELECT doc_id, 'dates' AS sink, tok AS term FROM tstoks
  WHERE try_strptime(tok, '%Y%m%d') IS NOT NULL
  UNION ALL
  SELECT doc_id, 'ranged', tok FROM tstoks WHERE ord BETWEEN 2 AND 3
  UNION ALL
  SELECT doc_id, 'typed', tok FROM tstoks
  WHERE regexp_matches(tok, '^[0-9]+$')
)
SELECT sink, term, count(DISTINCT doc_id) AS df, count(*) AS ttf
FROM em GROUP BY sink, term
ORDER BY df DESC, sink ASC, term ASC LIMIT 25"""
    out["high_freq_terms_ttf"] = f"""{P},
tt AS (SELECT docid, unnest(tokens) AS tok FROM toks)
SELECT tok AS term, count(DISTINCT docid) AS df, count(*) AS ttf
FROM tt GROUP BY tok
ORDER BY ttf DESC, term ASC LIMIT 20"""
    out["html_strip_top"] = f"""WITH hsdocs AS (
  SELECT doc_id, text AS dtext, lang FROM documents
),
em AS (
  SELECT doc_id, unnest({_WS}) AS term FROM hsdocs
  UNION ALL
  SELECT doc_id, unnest([lang, '&', 'tail']) FROM hsdocs
)
{_STATS}"""
    # Filter family wave 2 (round 5v)
    out["prefix_filter"] = es.boolean_sql(
        should=[HOT],
        k=15,
        extra_where=(
            "docid IN (SELECT DISTINCT docid FROM posting "
            "WHERE term LIKE 'sc%')"
        ),
    )
    out["numeric_range_filter"] = f"""{P}
SELECT docid, CAST(CAST(1.0 AS DOUBLE) AS REAL) AS score
FROM docs WHERE turn_idx >= 1 AND turn_idx < 2
ORDER BY docid ASC LIMIT 25"""
    out["fieldcache_terms_filter"] = f"""{P}
SELECT docid, CAST(CAST(1.5 AS DOUBLE) AS REAL) AS score
FROM docs WHERE role IN ('user', 'tool')
ORDER BY docid ASC LIMIT 25"""
    out["fieldcache_range_filter"] = f"""{P}
SELECT docid, CAST(CAST(1.0 AS DOUBLE) AS REAL) AS score
FROM docs WHERE role >= 't' AND role < 'v'
ORDER BY docid ASC LIMIT 25"""
    out["doc_term_ords_range"] = f"""{P}
SELECT docid, CAST(CAST(1.0 AS DOUBLE) AS REAL) AS score
FROM docs
WHERE (role >= 'src3' AND role <= 'src6')
   OR (tool >= 'src3' AND tool <= 'src6')
ORDER BY docid ASC LIMIT 25"""
    out["ngram_phrase"] = es.phrase_sql([HOT, T3], offsets=[0, 2], k=15)
    # ValueSource tree (round 5w): the composer emits the DuckDB-side f32
    # chain; scale()'s corpus min/max is replicated as a subquery chain
    from lucenenet_spark.functions import valuesource as V

    _vsr = V.product(
        V.reciprocal(V.field("turn_idx", "d.turn_idx"), 1.0, 1000.0, 1.0),
        V.const(2.0),
    )
    out["vs_reciprocal"] = f"""{P}
SELECT d.docid AS docid, {_vsr.duck} AS score
FROM docs d ORDER BY score DESC, docid ASC LIMIT 25"""
    out["vs_scale"] = f"""{P},
mm AS (
  SELECT CAST(min(turn_idx) AS REAL) AS mn,
         CAST(max(turn_idx) AS REAL) AS mx
  FROM docs
)
SELECT d.docid AS docid,
  CAST(CAST(CAST(CAST(CAST(d.turn_idx AS REAL) - mm.mn AS REAL)
       * CAST(CAST(CAST(CAST(1.0 AS DOUBLE) AS REAL)
                   - CAST(CAST(0.0 AS DOUBLE) AS REAL) AS REAL)
              / CAST(mm.mx - mm.mn AS REAL) AS REAL) AS REAL)
       + CAST(CAST(0.0 AS DOUBLE) AS REAL) AS REAL)
  + CAST(CAST(0.5 AS DOUBLE) AS REAL) AS REAL) AS score
FROM docs d CROSS JOIN mm
ORDER BY score DESC, docid ASC LIMIT 25"""
    out["wikipedia_top"] = f"""WITH wkdocs AS (
  SELECT doc_id, text AS dtext, lang, source FROM documents
),
em AS (
  SELECT doc_id, unnest({_WS}) AS term FROM wkdocs
  UNION ALL
  SELECT doc_id,
         unnest([lang, source, 'http://' || source || '.com', lang,
                 'head', 'h2', 'cite', lang]) AS term
  FROM wkdocs
)
{_STATS}"""
    out["synonym_or"] = es.boolean_sql(should=["merge", "join"], k=15)
    out["synonym_phrase"] = es.phrase_sql(
        [["table", "value"], ["hash"]], k=15
    )
    out["join_terms_avg"] = es.join_terms_sql(HOT, "tool", "tool", "avg", k=15)
    out["join_terms_total_seg"] = es.join_terms_sql(
        HOT, "tool", "tool", "total", k=15
    )
    out["join_terms_multi"] = es.join_terms_multi_sql(HOT, k=15)
    out["join_terms_none"] = es.join_terms_sql(
        HOT, "tool", "tool", "none", k=100000, boost=2.0
    )
    out["function_score"] = es.function_score_sql(k=20)
    out["custom_score"] = es.custom_score_sql(HOT, k=15)
    out["boosting_demote"] = es.boosting_sql(HOT, T3, 0.5, k=15)
    out["filtered_ts_range"] = f"""{es.prelude()}
SELECT d.docid AS docid, CAST(CAST(1.0 AS DOUBLE) AS REAL) AS score
FROM docs d
WHERE (TIMESTAMP '2024-01-01 00:00:00' + to_seconds(d.doc_id))
        >= TIMESTAMP '2024-01-01 00:00:30'
  AND (TIMESTAMP '2024-01-01 00:00:00' + to_seconds(d.doc_id))
        <= TIMESTAMP '2024-01-01 00:02:00'
ORDER BY score DESC, docid ASC
LIMIT 100000"""
    out["filtered_turn_range"] = f"""{es.prelude()}
SELECT d.docid AS docid, CAST(CAST(1.0 AS DOUBLE) AS REAL) AS score
FROM docs d WHERE d.turn_idx > 0 AND d.turn_idx <= 2
ORDER BY score DESC, docid ASC
LIMIT 100000"""
    from lucenenet_spark.functions.analysis import ENGLISH_STOP_WORDS as _STOPS
    from lucenenet_spark.functions.analysis import TOKEN_PATTERN_RE2_SQL as _PAT
    _stoplist = ", ".join(f"'{w}'" for w in sorted(_STOPS))
    _toks = (
        f"list_filter(list_transform(regexp_extract_all(COALESCE(text, ''), "
        f"'{_PAT}'), t -> lower(t)), "
        f"t -> length(t) <= 255 AND t NOT IN ({_stoplist}))"
    )
    out["suggest_analyzing"] = f"""WITH entries AS (
  SELECT array_to_string(list_slice({_toks}, 1, 3), ' ') AS surface,
         doc_id AS weight
  FROM documents
),
dedup AS (
  SELECT surface, max(weight) AS weight FROM entries
  WHERE surface <> '' GROUP BY surface
)
SELECT surface, CAST(weight AS BIGINT) AS weight FROM dedup
WHERE starts_with(surface, '{HOT}')
ORDER BY weight DESC, surface ASC
LIMIT 12"""
    # fuzzy: prefix-DL(akey, q) <= 1 with exact first char; akey == surface
    # under the standard analyzer
    _fq = "batsh"
    _hiL = len(_fq) + 1
    out["suggest_fuzzy"] = f"""WITH entries AS (
  SELECT array_to_string(list_slice({_toks}, 1, 3), ' ') AS surface,
         doc_id AS weight
  FROM documents
),
dedup AS (
  SELECT surface, max(weight) AS weight FROM entries
  WHERE surface <> '' GROUP BY surface
)
SELECT surface, CAST(weight AS BIGINT) AS weight FROM dedup
WHERE starts_with(surface, '{_fq[0]}')
  AND list_min(list_transform(generate_series(0, {_hiL}),
        L -> damerau_levenshtein(substr(surface, 1, L), '{_fq}'))) <= 1
ORDER BY weight DESC, surface ASC
LIMIT 12"""
    out["classify_knn"] = es.classify_knn_sql(
        "batch stream scan merge small table hash batch stream batch", k=10
    )
    out["classify_nb"] = es.classify_nb_sql("batch stream scan merge small")
    out["simple_query"] = es.boolean_sql(should=[HOT, T4], must_not=[T5], k=15)
    out["rescore_topn"] = f"""{es.prelude()},
first AS (
  SELECT docid, s FROM scored WHERE term = '{HOT}'
  ORDER BY s DESC, docid ASC LIMIT 50
)
SELECT f.docid AS docid,
       CAST(f.s + COALESCE(r.s, CAST(CAST(0.0 AS DOUBLE) AS REAL)) AS REAL) AS score
FROM first f
LEFT JOIN (SELECT docid, s FROM scored WHERE term = '{MID}') r
  ON f.docid = r.docid
ORDER BY score DESC, docid ASC
LIMIT 15"""
    out["bool_stemmed"] = es.boolean_sql(
        must=["merg"], should=["valu"], k=15, analyzer="english"
    )
    out["term_lmjm"] = es.lmjm_term_sql(HOT, k=15)
    out["term_dfr"] = es.dfr_gb2_term_sql(HOT, k=15)
    out["term_pl2"] = es.dfr_pl2_term_sql(HOT, k=15)
    out["term_ib"] = es.ib_ll_term_sql(HOT, k=15)
    out["term_ib_spl"] = es.ib_spl_term_sql(HOT, k=15)
    out["term_inb2"] = es.dfr_ixb2_term_sql(HOT, ine=False, k=15)
    out["term_ineb2"] = es.dfr_ixb2_term_sql(HOT, ine=True, k=15)
    for _name, _sim in SIMBASE_MATRIX_GATES:
        out[_name] = es.simbase_term_sql(HOT, _sim, k=15)

    from lucenenet_spark.operators import highlight as hl

    out["highlight_hot"] = f"{P},\n{hl.highlight_sql(HOT, k=10)}"
    out["highlight_offsets"] = f"{P},\n{hl.highlight_offsets_sql(HOT, k=10)}"
    out["suggest_prefix"] = f"{P}\n{hl.suggest_terms_sql('sc', 10)}"
    out["spell_suggest"] = f"{P}\n{hl.spell_suggest_sql('batcch', 2, 5)}"
    from lucenenet_spark.operators import mlt as _mlt

    out["more_like_this"] = f"{P},\n{_mlt.more_like_this_sql(7, k=15)}"
    # the posting CTE IS the term vector relationally (same tf per
    # (docid, term)), so the tv-path oracle is the same SQL
    out["more_like_this_tv"] = f"{P},\n{_mlt.more_like_this_sql(7, k=15)}"
    out["span_first"] = es.span_first_sql(HOT, 5, k=15)
    out["span_near"] = es.span_near_ordered_sql(HOT, MID, 4, k=15)
    out["span_prefix_first"] = es.span_first_prefix_sql("st", 6, k=15)
    out["span_prefix_near"] = es.span_near_prefix_sql("sc", HOT, 5, k=15)
    out["complex_phrase"] = es.span_near_prefix_sql("sc", HOT, 5, k=15)
    out["surround_w"] = es.span_near_ordered_sql(HOT, MID, 4, k=15)
    out["surround_prefix_near"] = es.span_near_prefix_sql("sca", HOT, 5, k=15)
    out["surround_bool"] = es.boolean_sql(must=[HOT, MID], must_not=[T4], k=15)
    out["xml_bool"] = es.boolean_sql(must=[HOT], should=[T4], must_not=[T5], k=15)
    out["xml_span_near"] = es.span_near_ordered_sql(HOT, MID, 4, k=15)
    out["xml_filtered"] = es.boolean_sql(
        must=[HOT],
        k=15,
        extra_where=(
            "docid IN (SELECT docid FROM docs "
            "WHERE turn_idx >= 0 AND turn_idx <= 2)"
        ),
    )
    out["flex_precedence"] = es.precedence_sql(HOT, MID, T4, k=15)
    out["flex_open_range"] = f"""{es.prelude()}
SELECT d.docid AS docid, CAST(CAST(2.0 AS DOUBLE) AS REAL) AS score
FROM docs d WHERE d.turn_idx >= 1 AND d.turn_idx < 3
ORDER BY score DESC, docid ASC
LIMIT 100000"""
    out["flex_multifield"] = es.multi_field_sql(HOT, "user", "role", k=15)
    out["term_vector_doc"] = f"""{es.prelude()},
{es._positions_cte()}
SELECT docid, term, pos FROM pos WHERE docid <= 4"""
    out["payload_near_avg"] = es.payload_near_sql(HOT, MID, 4, "avg", k=15)
    out["payload_near_min"] = es.payload_near_sql(HOT, MID, 4, "min", k=15)
    out["payload_near_tfidf"] = es.payload_near_sim_sql(
        HOT, MID, 4, "avg", "classic", k=15
    )
    out["payload_near_lmd"] = es.payload_near_sim_sql(
        HOT, MID, 4, "min", "lmd", k=15
    )
    out["join_parent_max"] = f"""{P}
SELECT d.conv_id AS parent, CAST(max(s.s) AS REAL) AS score,
       count(*) AS n_hits
FROM scored s JOIN docs d ON s.docid = d.docid
WHERE s.term = '{HOT}'
GROUP BY 1 ORDER BY score DESC, parent ASC LIMIT 15"""
    out["join_parent_total"] = f"""{P},
ch AS (
  SELECT d.conv_id AS parent,
         list_reduce(list(s.s ORDER BY s.docid), (x, y) -> CAST(x + y AS REAL)) AS score,
         count(*) AS n_hits
  FROM scored s JOIN docs d ON s.docid = d.docid
  WHERE s.term = '{HOT}'
  GROUP BY 1
)
SELECT parent, score, n_hits FROM ch
ORDER BY score DESC, parent ASC LIMIT 15"""
    out["join_parent_avg"] = f"""{P},
ch AS (
  SELECT d.conv_id AS parent,
         list_reduce(list(s.s ORDER BY s.docid), (x, y) -> CAST(x + y AS REAL)) AS tot,
         count(*) AS n_hits
  FROM scored s JOIN docs d ON s.docid = d.docid
  WHERE s.term = '{HOT}'
  GROUP BY 1
)
SELECT parent, CAST(tot / CAST(n_hits AS REAL) AS REAL) AS score, n_hits FROM ch
ORDER BY score DESC, parent ASC LIMIT 15"""

    # training-data pipeline oracles
    from lucenenet_spark.pipeline import dedup as dd
    from lucenenet_spark.pipeline import textstats as tx

    out["doc_token_stats"] = tx.token_stats_sql()
    out["doc_quality"] = tx.quality_scores_sql()
    out["doc_lang"] = tx.lang_id_sql()
    out["doc_fingerprint"] = tx.fingerprints_sql()
    out["dedup_exact"] = dd.exact_duplicates_sql(
        table="(SELECT doc_id, text FROM documents "
        "UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents)"
    )
    out["dedup_minhash_pairs"] = dd.lsh_candidate_pairs_sql()
    out["dedup_jaccard"] = dd.jaccard_pairs_sql()
    out["dedup_clusters"] = dd.dedup_clusters_sql(threshold=0.5)
    out["dedup_keep"] = dd.dedup_keep_sql(threshold=0.5)
    out["decontam_keep"] = dd.decontaminate_sql("doc_id % 97 = 0")

    from lucenenet_spark.pipeline import curate as cu

    out["pii_scrub"] = cu.pii_scrub_sql()
    out["split_assign"] = cu.split_assign_sql()
    out["repetition_2gram"] = cu.repetition_metrics_sql(n=2)
    _boiler_tbl = (
        "(SELECT doc_id, text || chr(10) || 'generated by transcript exporter'"
        " || chr(10) || CASE WHEN doc_id % 3 = 0"
        " THEN 'confidential do not distribute'"
        " ELSE 'doc ' || CAST(doc_id AS VARCHAR) || ' footer' END AS text"
        " FROM documents)"
    )
    out["strip_boilerplate"] = cu.strip_boilerplate_sql(
        table=_boiler_tbl, min_df=30
    )
    out["unigram_bits"] = cu.unigram_logprob_sql()
    out["pack_chunks"] = cu.pack_sequences_sql(512)
    out["sample_stratified"] = cu.stratified_sample_sql(
        {"src0": 1.0, "src3": 0.5, "src7": 0.25}, default_rate=0.1
    )

    from lucenenet_spark.pipeline import similarity as sim

    QV = "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 7)"
    out["ann_cosine_topk"] = sim.cosine_topk_sql(QV, 10)
    out["ann_ivf_topk"] = sim.ivf_topk_sql(QV, 10)
    out["ann_ivf_recall"] = f"""SELECT CAST(count(*) AS DOUBLE) / 10.0 AS recall_at_10
FROM ({sim.cosine_topk_sql(QV, 10)}) a
JOIN ({sim.ivf_topk_sql(QV, 10)}) b USING (vec_id)"""
    out["emb_cell_hist"] = sim.cell_histogram_sql()
    planted_tbl = (
        "(SELECT vec_id, embedding FROM embeddings"
        " UNION ALL SELECT 9000001 AS vec_id, embedding FROM embeddings WHERE vec_id = 0"
        " UNION ALL SELECT 9000002 AS vec_id, embedding FROM embeddings WHERE vec_id = 0)"
    )
    out["emb_near_dups"] = sim.embedding_near_dup_pairs_sql(
        threshold=0.9, table=planted_tbl
    )

    from lucenenet_spark.pipeline import multimodal as mm

    out["doc_simhash"] = dd.simhash_sql()
    out["media_features"] = mm.media_features_sql()
    out["analyze_uax29"] = es.analyze_uax29_sql()

    # grouping extras
    out["group_all"] = f"""{P}
SELECT DISTINCT d.conv_id AS grp
FROM scored s JOIN docs d ON s.docid = d.docid
WHERE s.term = '{HOT}'
ORDER BY grp"""
    out["group_heads"] = f"""{P},
gh AS (
  SELECT d.conv_id AS grp, s.docid,
         row_number() OVER (
           PARTITION BY d.conv_id ORDER BY d.role ASC, s.docid ASC
         ) AS rk
  FROM scored s JOIN docs d ON s.docid = d.docid
  WHERE s.term = '{HOT}'
)
SELECT grp, docid FROM gh WHERE rk = 1 ORDER BY grp"""
    out["distinct_values"] = f"""{P}
SELECT d.role AS grp,
       CAST(count(DISTINCT d.tool)
            + max(CASE WHEN d.tool IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_values
FROM scored s JOIN docs d ON s.docid = d.docid
WHERE s.term = '{HOT}'
GROUP BY d.role ORDER BY grp"""

    # facet extras
    out["facet_range_score"] = f"""{P},
h AS (SELECT s.s FROM scored s WHERE s.term = '{HOT}')
SELECT 'lo' AS label, count(*) FILTER (WHERE s >= 0.0 AND s < 0.8) AS n FROM h
UNION ALL
SELECT 'midlo', count(*) FILTER (WHERE s >= 0.8 AND s < 1.2) FROM h
UNION ALL
SELECT 'hi', count(*) FILTER (WHERE s >= 1.2 AND s <= 100.0) FROM h
UNION ALL
SELECT 'all', count(*) FILTER (WHERE s >= 0.0 AND s <= 100.0) FROM h"""
    out["facet_sum_score"] = f"""{P},
fs AS (
  SELECT d.role AS value,
         list_reduce(list(s.s ORDER BY s.docid), (x, y) -> CAST(x + y AS REAL))
           AS sum_score
  FROM scored s JOIN docs d ON s.docid = d.docid
  WHERE s.term = '{HOT}' AND d.role IS NOT NULL
  GROUP BY 1
)
SELECT value, sum_score FROM fs ORDER BY value"""

    # SweetSpotSimilarity (plateau norm index + BaselineTf query factors)
    out["term_sweetspot"] = es.sweetspot_sql([HOT], k=15)
    out["phrase_sweetspot"] = es.sweetspot_sql(["table", "hash"], k=15)

    # misc token filters
    out["filter_chain_top"] = f"""{P},
tt AS (SELECT docid, unnest(tokens) AS tok FROM toks),
em AS (
  SELECT docid, reverse(left(tok, 5)) AS term FROM tt
  WHERE len(tok) BETWEEN 3 AND 8
)
SELECT term, count(DISTINCT docid) AS df, count(*) AS ttf
FROM em GROUP BY term ORDER BY df DESC, term ASC LIMIT 20"""
    out["filter_pattern_top"] = f"""{P},
tt AS (SELECT docid, unnest(tokens) AS tok FROM toks),
em AS (SELECT docid, regexp_replace(tok, '[0-9]+$', '#', 'g') AS term FROM tt)
SELECT term, count(DISTINCT docid) AS df, count(*) AS ttf
FROM em GROUP BY term ORDER BY df DESC, term ASC LIMIT 20"""
    out["keyword_repeat_top"] = f"""{P},
rawtoks AS (SELECT docid, unnest(tokens) AS tok FROM toks),
{es._porter_sql_pipeline()},
em AS (
  SELECT docid, tok AS term FROM rawtoks
  UNION ALL
  SELECT r.docid, m.stem FROM rawtoks r
  JOIN stemmap m ON r.tok = m.tok WHERE m.stem <> r.tok
)
SELECT term, count(DISTINCT docid) AS df, count(*) AS ttf
FROM em GROUP BY term ORDER BY df DESC, term ASC LIMIT 20"""

    # WordDelimiterFilter over the gate corpus domain ([a-z0-9]+ tokens —
    # only alpha<->digit transitions split; catenate_all = the token):
    # single-subword tokens pass through, multi-subword tokens emit every
    # subword plus the full catenation
    _SW = "regexp_extract_all(tok, '[a-z]+|[0-9]+')"
    out["word_delim_top"] = f"""{P},
tt AS (SELECT docid, unnest(tokens) AS tok FROM toks),
em AS (
  SELECT docid, tok AS term FROM tt WHERE len({_SW}) = 1
  UNION ALL
  SELECT docid, unnest({_SW}) AS term FROM tt WHERE len({_SW}) > 1
  UNION ALL
  SELECT docid, tok FROM tt WHERE len({_SW}) > 1
)
SELECT term, count(DISTINCT docid) AS df, count(*) AS ttf
FROM em GROUP BY term ORDER BY df DESC, term ASC LIMIT 20"""

    # infix suggesters (entries = first-3-token surface, weight = doc_id)
    _ENT = """ent AS (
  SELECT array_to_string(t.tokens[1:3], ' ') AS surface,
         d.doc_id AS weight, t.tokens[1:3] AS st
  FROM toks t JOIN docs d ON t.docid = d.docid
)"""
    out["suggest_infix"] = f"""{P},
{_ENT}
SELECT surface, CAST(weight AS BIGINT) AS weight FROM ent
WHERE list_contains(st, 'batch')
  AND len(list_filter(st, x -> x LIKE 'sc%')) > 0
ORDER BY weight DESC, surface ASC LIMIT 15"""
    out["suggest_blended"] = f"""{P},
{_ENT},
m AS (
  SELECT surface, weight, st FROM ent
  WHERE len(list_filter(st, x -> x LIKE 'bat%')) > 0
  ORDER BY weight DESC, surface ASC LIMIT 100
),
sc AS (
  SELECT surface, weight,
    CASE WHEN surface LIKE 'bat%' THEN CAST(1.0 AS DOUBLE)
         ELSE 1.0 / (1.0 + CAST(list_min(list_transform(
           list_filter(
             list_transform(st, (x, i) -> {{'p': i - 1, 'ok': x LIKE 'bat%'}}),
             s -> s.ok),
           s -> s.p)) AS DOUBLE))
    END AS coef
  FROM m
)
SELECT surface, CAST(trunc(CAST(weight AS DOUBLE) * coef) AS BIGINT) AS score
FROM sc ORDER BY score DESC, surface DESC LIMIT 10"""

    # grouped facets + sorted-set sort
    out["grouped_facets"] = f"""{P}
SELECT d.tool AS value,
       CAST(count(DISTINCT d.conv_id) AS BIGINT) AS n_groups
FROM scored s JOIN docs d ON s.docid = d.docid
WHERE s.term = '{HOT}'
GROUP BY d.tool ORDER BY value NULLS FIRST"""
    _LABS = (
        "list_sort(list_distinct("
        "list_filter([d.role, d.tool], x -> x IS NOT NULL)))"
    )
    out["sorted_set_min"] = f"""{P},
labs AS (
  SELECT s.docid, {_LABS} AS st
  FROM scored s JOIN docs d ON s.docid = d.docid WHERE s.term = '{HOT}'
)
SELECT docid, CASE WHEN len(st) > 0 THEN st[1] END AS sortkey
FROM labs ORDER BY sortkey ASC NULLS FIRST, docid ASC LIMIT 15"""
    out["sorted_set_middle_max"] = f"""{P},
labs AS (
  SELECT s.docid, {_LABS} AS st
  FROM scored s JOIN docs d ON s.docid = d.docid WHERE s.term = '{HOT}'
)
SELECT docid,
       CASE WHEN len(st) > 0 THEN st[len(st) // 2 + 1] END AS sortkey
FROM labs ORDER BY sortkey DESC NULLS LAST, docid ASC LIMIT 15"""

    # Expressions module
    out["expr_sort"] = f"""{P}
SELECT s.docid,
       CAST(s.s AS DOUBLE) + sqrt(1.0 + CAST(d.turn_idx AS DOUBLE)) AS sortval
FROM scored s JOIN docs d ON s.docid = d.docid
WHERE s.term = '{HOT}'
ORDER BY sortval DESC, s.docid ASC LIMIT 15"""
    out["expr_rescore"] = f"""{P},
top AS (
  SELECT s.docid, s.s FROM scored s WHERE s.term = '{MID}'
  ORDER BY s.s DESC, s.docid ASC LIMIT 20
)
SELECT t.docid,
       CASE WHEN fmod(CAST(d.turn_idx AS DOUBLE), 2.0) = 0.0
            THEN CAST(t.s AS DOUBLE) * 1.5
            ELSE greatest(CAST(t.s AS DOUBLE), 0.5) END AS sortval
FROM top t JOIN docs d ON t.docid = d.docid
ORDER BY sortval DESC, t.docid ASC LIMIT 10"""

    # Sandbox DuplicateFilter
    out["dup_filter"] = f"""{P},
kept AS (
  SELECT max(docid) AS docid FROM docs
  WHERE conv_id IS NOT NULL GROUP BY conv_id
)
SELECT s.docid, s.s AS score
FROM scored s JOIN kept k ON s.docid = k.docid
WHERE s.term = '{HOT}'
ORDER BY score DESC, s.docid ASC LIMIT 15"""
    out["dup_filter_fast"] = f"""{P},
kept AS (
  SELECT min(docid) AS docid FROM docs
  WHERE tool IS NOT NULL GROUP BY tool
  UNION ALL
  SELECT docid FROM docs WHERE tool IS NULL
)
SELECT s.docid, s.s AS score
FROM scored s JOIN kept k ON s.docid = k.docid
WHERE s.term = '{HOT}'
ORDER BY score DESC, s.docid ASC LIMIT 15"""

    # -- Spatial module (round 5y). Detail levels are frozen literals (4 =
    # geohash level for the gate rect at distErrPct 0.025, 10 = quad level);
    # tests/test_spatial.py asserts they equal the strategy's
    # GetLevelForDistance derivation, keeping the oracle non-circular.
    from lucenenet_spark.functions.geo import Circle as _GeoCircle

    out["spatial_rpt_rect"] = es.spatial_rect_sql(
        -60.0, -20.0, 5.0, 35.0, 4, 15
    )
    out["spatial_rpt_disjoint"] = es.spatial_rect_sql(
        -60.0, -20.0, 5.0, 35.0, 4, 15, disjoint=True
    )
    out["spatial_quad_rect"] = es.spatial_rect_sql(
        -60.0, -20.0, 5.0, 35.0, 10, 15, tree="quad"
    )
    out["spatial_pv_circle"] = es.spatial_circle_sql(10.0, 20.0, 25.5, 15)
    out["spatial_dist_sort"] = es.spatial_distance_sort_sql(12.25, -33.5, 15)
    out["spatial_dist_grid"] = es.spatial_distance_sort_sql(
        12.25, -33.5, 15, grid_level=7
    )
    out["spatial_recip"] = es.spatial_recip_sql(_GeoCircle(10.0, 20.0, 25.5), 15)

    # ord / reverse-ord value sources: the oracle derives the ordinal table
    # INDEPENDENTLY with a window function over distinct values (the engine
    # resolves it from the terms dictionary into a CASE)
    _ORDS = """ords AS (
  SELECT v, row_number() OVER (ORDER BY v) - 1 AS o
  FROM (SELECT DISTINCT tool AS v FROM docs WHERE tool IS NOT NULL)
)"""
    out["vs_ord"] = f"""{P},
{_ORDS}
SELECT d.docid, CAST(COALESCE(o.o, -1) AS REAL) AS score
FROM docs d LEFT JOIN ords o ON d.tool = o.v
ORDER BY score DESC, d.docid ASC LIMIT 15"""
    out["vs_reverse_ord"] = f"""{P},
{_ORDS}
SELECT d.docid,
       CAST((SELECT count(*) FROM ords) - COALESCE(o.o, -1) - 1 AS REAL) AS score
FROM docs d LEFT JOIN ords o ON d.tool = o.v
ORDER BY score DESC, d.docid ASC LIMIT 15"""
    out["quality_trec"] = es.quality_trec_sql([HOT, MID, T3], k=20)
    out["term_phonetic_index"] = es.phonetic_term_sql("soundex", "B320", 15)
    out["term_phonetic_replace"] = es.phonetic_term_sql(
        "metaphone", "BX", 15, inject=False
    )
    return _prioritize(out)
