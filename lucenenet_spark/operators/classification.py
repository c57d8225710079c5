"""Classification over the index: kNN (via MoreLikeThis) and Naive Bayes.

Reference: Lucene.Net.Classification/KNearestNeighborClassifier.cs (MLT
query over the input text, majority class among the top-k hits, score =
count/k) and SimpleNaiveBayesClassifier.cs (per class c:
log(docFreq(c)) - log(docsWithClass) + sum over the input's TOKENS
(duplicates kept) of log((hits(w, c) + 1) / (avgUniqueTermsPerDoc *
docFreq(c) + docsWithClass)), where hits(w, c) counts docs containing w
whose class field is c and avgUniqueTermsPerDoc = sumDocFreq / docCount
of the text field; winner = max score, earliest class in term order on
ties; reported score = 10/|max|). Tests:
Lucene.Net.Tests.Classification/KNearestNeighborClassifierTest.cs,
SimpleNaiveBayesClassifierTest.cs.

Spark shape: the class vocabulary is tiny (keyword column) and the input
text's token set is per-document small, so classification is (a) one
bucket-pruned postings decode for the input's terms joined to the docs
view's class column — a narrow join grouped to (term, class) counts —
plus (b) driver-side float arithmetic over a #tokens x #classes grid.
Nothing scans the corpus beyond the terms' own postings.
"""
from __future__ import annotations

import math

from pyspark.sql import functions as F

from ..functions.analysis import tokenize_text
from ..plans.query import BooleanQuery, TermQuery


def knn_classify(
    searcher, text: str, class_field: str = "role", k: int = 10,
    min_term_freq: int = 2, min_doc_freq: int = 5, max_query_terms: int = 25,
) -> tuple[str, float]:
    """KNearestNeighborClassifier.AssignClass: MLT term selection over the
    input text, top-k BM25 hits restricted to docs carrying the class
    field, majority class (ties: lexicographically smallest — the
    reference's hash-iteration tie order is unspecified)."""
    from .mlt import interesting_terms

    terms = interesting_terms(
        searcher, text,
        min_term_freq=min_term_freq, min_doc_freq=min_doc_freq,
        max_query_terms=max_query_terms,
    )
    if not terms:
        return ("", 0.0)
    q = BooleanQuery(should=tuple(TermQuery(term=t) for t in terms))
    hits = searcher.scores(q)
    docs = searcher.docs().select(
        "docid", F.col(class_field).alias("cls")
    ).filter(F.col("cls").isNotNull())
    topk = (
        hits.join(docs, "docid")
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
    )
    counts = (
        topk.groupBy("cls").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("cls"))
        .first()
    )
    if counts is None:
        return ("", 0.0)
    return (counts["cls"], counts["n"] / float(k))


def naive_bayes_classify(
    searcher, text: str, class_field: str = "role"
) -> tuple[str, float]:
    """SimpleNaiveBayesClassifier.AssignClass (float64 arithmetic like the
    reference; class enumeration in term order, strict > keeps the
    earliest class among ties)."""
    tokens = tokenize_text(text, getattr(searcher, "analyzer", "standard"))
    docs = searcher.docs()
    cls_counts = {
        r["cls"]: int(r["n"])
        for r in docs.filter(F.col(class_field).isNotNull())
        .groupBy(F.col(class_field).alias("cls"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    if not cls_counts:
        return ("", 0.0)
    docs_with_class = sum(cls_counts.values())
    # text-field stats: sumDocFreq (number of (term, doc) pairs) and
    # docCount (docs with at least one token)
    stats = searcher.term_stats().filter(F.col("field") == "text")
    sum_doc_freq = int(stats.agg(F.sum("df")).first()[0] or 0)
    doc_count = int(docs.filter(F.col("field_length") > 0).count())
    avg_unique = sum_doc_freq / float(doc_count) if doc_count else 0.0
    # hits(w, c): docs containing w with class c — one decode of the
    # input terms' postings joined to the class column
    uniq_terms = sorted(set(tokens))
    wc: dict[tuple[str, str], int] = {}
    if uniq_terms:
        import numpy as np
        import pandas as pd

        def decode_term_docids(it):
            from .codec import decode_frame

            for pdf in it:
                f = decode_frame(pdf)
                yield pd.DataFrame({
                    "term": np.repeat(pdf["term"].to_numpy(), np.diff(f.at)),
                    "docid": f.docids,
                })

        blocks = searcher._blocks_for([("text", t) for t in uniq_terms])
        decoded = blocks.select(
            "term", "first_docid", "count", "docids_enc", "tfs_enc", "docbase"
        ).mapInPandas(decode_term_docids, "term string, docid long")
        docs_cls = docs.select(
            "docid", F.col(class_field).alias("cls")
        ).filter(F.col("cls").isNotNull())
        joined = (
            decoded.join(docs_cls, "docid")
            .groupBy("term", "cls")
            .agg(F.countDistinct("docid").alias("n"))
            .collect()
        )
        wc = {(r["term"], r["cls"]): int(r["n"]) for r in joined}
    best_cls, best = None, None
    for c in sorted(cls_counts):  # class terms enumerate in term order
        df_c = cls_counts[c]
        score = math.log(float(df_c)) - math.log(float(docs_with_class))
        den = avg_unique * df_c + docs_with_class
        for w in tokens:  # ALL tokens, duplicates kept
            num = wc.get((w, c), 0) + 1
            score += math.log(num / den)
        if best is None or score > best:
            best, best_cls = score, c
    return (best_cls, 10.0 / abs(best))
