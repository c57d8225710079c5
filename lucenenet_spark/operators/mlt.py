"""MoreLikeThis: find documents similar to a given document.

Re-derivation of Lucene.Net.Queries/Mlt/MoreLikeThis.cs: re-analyze the
source document's text (the Like(TextReader) path — we store no term
vectors, same as a TextField without them), keep "interesting" terms with
tf >= min_term_freq and df >= min_doc_freq (MoreLikeThis.cs:234-270
defaults 2 / 5), rank them by tf * idf with the classic idf
(log(maxDoc/(df+1)) + 1 — the DefaultSimilarity idf MLT uses), take the
top max_query_terms (default 25), and run them as a SHOULD BooleanQuery
(term boosting off by default, MoreLikeThis Boost=false) excluding the
source document.

The tf*idf ranking is computed in float64 and rounded to 9 dp with a
(score desc, term asc) tie-break so the DuckDB oracle selects the exact
same term set in the exact same clause order (the float32 score fold is
order-sensitive).
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.analysis import tokenize_text
from ..plans.query import BooleanQuery, TermQuery

MIN_TERM_FREQ = 2
MIN_DOC_FREQ = 5
MAX_QUERY_TERMS = 25


def _rank_terms(
    searcher, tf: dict[str, int],
    min_term_freq: int, min_doc_freq: int, max_query_terms: int,
) -> list[str]:
    cand = [t for t, c in tf.items() if c >= min_term_freq]
    if not cand:
        return []
    metas = searcher.term_meta([("text", t) for t in cand])
    ranked = []
    for t in cand:
        df = metas[("text", t)][0]
        if df < min_doc_freq:
            continue
        idf = math.log(searcher.max_doc / (df + 1.0)) + 1.0
        ranked.append((round(tf[t] * idf, 9), t))
    ranked.sort(key=lambda kv: (-kv[0], kv[1]))
    return [t for _s, t in ranked[:max_query_terms]]


def interesting_terms(
    searcher, text: str,
    min_term_freq: int = MIN_TERM_FREQ,
    min_doc_freq: int = MIN_DOC_FREQ,
    max_query_terms: int = MAX_QUERY_TERMS,
) -> list[str]:
    """Ranked MLT query terms for a piece of text."""
    from collections import Counter

    tf = Counter(tokenize_text(text, getattr(searcher, "analyzer", "standard")))
    return _rank_terms(searcher, tf, min_term_freq, min_doc_freq, max_query_terms)


def interesting_terms_for_doc(
    searcher, docid: int,
    min_term_freq: int = MIN_TERM_FREQ,
    min_doc_freq: int = MIN_DOC_FREQ,
    max_query_terms: int = MAX_QUERY_TERMS,
) -> list[str]:
    """Ranked MLT query terms straight from the term-vectors channel —
    the RetrieveTerms(docID) path (MoreLikeThis.cs:760-800 uses
    IndexReader.GetTermVector when the field stored vectors, avoiding the
    stored-text re-analysis). One row-group-pruned scan, no source join."""
    from .termvectors import term_vectors

    rows = term_vectors(searcher, docids=[docid]).select("term", "tf").collect()
    tf = {r["term"]: int(r["tf"]) for r in rows}
    return _rank_terms(searcher, tf, min_term_freq, min_doc_freq, max_query_terms)


def more_like_this(
    searcher, source: DataFrame | None, docid: int, k: int = 10, **kw
) -> DataFrame:
    """Top-k documents most like `docid` (excluded from the result).

    `source` is the transcript table carrying text (looked up via the
    stored-fields join, one row). Pass source=None to read the document's
    terms from the index's term-vectors channel instead (the
    GetTermVector path — raises if the channel wasn't built)."""
    if source is None:
        # distinguish "docid absent from index" (KeyError, like the text
        # path below) from "doc has no interesting terms" (empty result)
        if searcher.docs().filter(F.col("docid") == docid).first() is None:
            raise KeyError(f"docid {docid} not in index")
        terms = interesting_terms_for_doc(searcher, docid, **kw)
        if not terms:
            return searcher._empty_hits()
        q = BooleanQuery(should=tuple(TermQuery(term=t) for t in terms))
        scored = searcher.scores(q).filter(F.col("docid") != docid)
        return scored.orderBy(F.desc("score"), F.asc("docid")).limit(k)
    row = (
        searcher.docs()
        .filter(F.col("docid") == docid)
        .select("conv_id", "turn_idx")
        .first()
    )
    if row is None:
        raise KeyError(f"docid {docid} not in index")
    src = (
        source.filter(
            (F.col("conv_id") == row["conv_id"])
            & (F.col("turn_idx") == int(row["turn_idx"]))
        )
        .select("text")
        .first()
    )
    terms = interesting_terms(searcher, src["text"] if src else "", **kw)
    if not terms:
        return searcher._empty_hits()
    q = BooleanQuery(should=tuple(TermQuery(term=t) for t in terms))
    scored = searcher.scores(q).filter(F.col("docid") != docid)
    return scored.orderBy(F.desc("score"), F.asc("docid")).limit(k)


def more_like_this_sql(
    src_docid: int, k: int = 10,
    min_term_freq: int = MIN_TERM_FREQ,
    min_doc_freq: int = MIN_DOC_FREQ,
    max_query_terms: int = MAX_QUERY_TERMS,
) -> str:
    """DuckDB oracle (appended to the prelude): same term selection
    (float64 tf*idf rounded to 9 dp, same tie-break) and the float32 score
    fold in clause-rank order via list_reduce (+0f clauses are identities,
    so folding only the present scores matches the engine's range reducer,
    which adds only the clauses a doc matches)."""
    return f"""mlt AS (
  SELECT p.term,
         row_number() OVER (
           ORDER BY round(p.tf * (ln(CAST(f.max_doc AS DOUBLE) / (t.df + 1.0)) + 1.0), 9) DESC,
                    p.term ASC
         ) AS rk
  FROM posting p
  JOIN tstats t ON p.term = t.term
  CROSS JOIN fstats f
  WHERE p.docid = {src_docid} AND p.tf >= {min_term_freq} AND t.df >= {min_doc_freq}
),
sel AS (SELECT term, rk FROM mlt WHERE rk <= {max_query_terms}),
persc AS (
  SELECT s.docid, s.s, m.rk FROM scored s JOIN sel m ON s.term = m.term
  WHERE s.docid != {src_docid}
),
folded AS (
  SELECT docid,
         list_reduce(list(CAST(s AS REAL) ORDER BY rk), (x, y) -> CAST(x + y AS REAL)) AS score
  FROM persc GROUP BY docid
)
SELECT docid, score FROM folded
ORDER BY score DESC, docid ASC
LIMIT {k}"""