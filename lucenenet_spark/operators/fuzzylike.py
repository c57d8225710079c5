"""Sandbox fuzzy queries: SlowFuzzyTermsEnum variant enumeration and
FuzzyLikeThisQuery (Lucene.Net.Sandbox/Queries/SlowFuzzyQuery.cs,
SlowFuzzyTermsEnum.cs, FuzzyLikeThisQuery.cs).

SlowFuzzyTermsEnum accepts a fractional minSimilarity. maxEdits =
(int)((1 - minSim) * termLength) (FuzzyTermsEnum.cs InitialMaxDistance);
when maxEdits <= 2 the AUTOMATON enum runs (plain Levenshtein on the
post-prefix parts — transpositions=false — with similarity computed over
FULL lengths: 1 - ed/min(|cand|, |term|), exact matches boosted 1.0
unconditionally); when maxEdits > 2 the LINEAR scan runs (similarity
1 - ed/(prefix + min(post-prefix lengths))). Accept requires
f32(similarity) > f32(minSim) strictly (sortable-int compare); boost =
f32(f32(sim - minSim) * f32(1/(1 - minSim))). Integer minSimilarity >= 1
is the raw edit-distance mode (minSim=0, scale=1, accept ed <= maxEdits).

FuzzyLikeThisQuery (ignoreTF=true, the constant-score arm): per analyzed
query term, enumerate variants, keep the top MAX_VARIANTS_PER_TERM by
(boost desc, term asc) (ScoreTermQueue order), idf-scale each kept
variant's boost — score = f32(f32(boost²) * idf(df, numDocs)) with
ClassicSimilarity idf f32(ln(numDocs/(df+1)) + 1) and df = the SOURCE
term's df, or the integer-mean variant df when the source is absent —
keep the global top maxNumTerms by (score desc, term asc), and rewrite
to a SHOULD of ConstantScoreQuery(TermQuery) clauses in term-asc order
(our defined clause order; it fixes the f32 fold order, which the
reference leaves to queue-pop order). Not replicated: the enum's
non-competitive maxEdits shrinking, which only changes numVariants /
avgDf when the source term is absent AND more than MAX_VARIANTS_PER_TERM
variants exist.
"""
from __future__ import annotations

import math

import numpy as np

from ..plans.query import BooleanQuery, ConstantScoreQuery, TermQuery

MAX_VARIANTS_PER_TERM = 10


def _lev(a: str, b: str) -> int:
    """Plain Levenshtein (no transpositions) — the SlowFuzzy distance."""
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(cur[j - 1] + 1, prev[j] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def slow_fuzzy_variants(
    searcher,
    term: str,
    min_similarity: float = 0.5,
    prefix_length: int = 0,
    field: str = "text",
) -> list[tuple[str, int, np.float32]]:
    """All ACCEPTED (variant, df, boost) rows, unsorted (the enum's full
    traversal — callers cut top-N themselves like the reference queues)."""
    if min_similarity >= 1.0:
        if min_similarity != int(min_similarity):
            raise ValueError("fractional edit distances are not allowed")
        max_edits = int(min_similarity)
        min_sim = np.float32(0.0)
        scale = np.float32(1.0)
        raw = True
    else:
        min_sim = np.float32(min_similarity)
        max_edits = int((1.0 - min_similarity) * len(term))
        scale = np.float32(np.float32(1.0) / (np.float32(1.0) - min_sim))
        raw = False
    p = min(prefix_length, len(term))
    prefix, suffix = term[:p], term[p:]
    automaton = max_edits <= 2

    lo, hi = len(term) - max_edits, len(term) + max_edits
    out: list[tuple[str, int, np.float32]] = []
    for cand, df in searcher.terms(field, lo=prefix):
        if not (cand.startswith(prefix) and lo <= len(cand) <= hi):
            continue
        ed = _lev(suffix, cand[p:])
        if automaton:
            if ed > max_edits:
                continue
            if ed == 0:
                out.append((cand, df, np.float32(1.0)))
                continue
            sim = np.float32(1.0) - np.float32(
                np.float32(ed) / np.float32(min(len(cand), len(term)))
            )
        else:
            denom = p + min(len(suffix), len(cand) - p)
            if raw and ed > max_edits:
                continue
            sim = np.float32(1.0) - np.float32(
                np.float32(ed) / np.float32(denom)
            )
        if not raw and not (sim > min_sim):
            continue
        out.append(
            (cand, df, np.float32(np.float32(sim - min_sim) * scale))
        )
    return out


def _classic_idf(df: int, num_docs: int) -> np.float32:
    return np.float32(
        math.log(np.float64(num_docs) / np.float64(df + 1)) + 1.0
    )


def fuzzy_like_this_query(
    searcher,
    query_string: str,
    min_similarity: float = 0.5,
    prefix_length: int = 0,
    max_num_terms: int = 50,
    field: str = "text",
) -> BooleanQuery:
    """The rewritten query (ignoreTF arm): SHOULD of boosted
    ConstantScoreQuery(TermQuery) clauses in term-asc order."""
    from ..functions.analysis import tokenize_text

    terms: list[str] = []
    for t in tokenize_text(query_string, searcher.analyzer
                           if hasattr(searcher, "analyzer") else "standard"):
        if t not in terms:
            terms.append(t)
    pool: list[tuple[str, np.float32]] = []
    for t in terms:
        acc = slow_fuzzy_variants(
            searcher, t, min_similarity, prefix_length, field
        )
        if not acc:
            continue
        total_df = sum(d for _v, d, _b in acc)
        src_df = searcher.doc_freqs([(field, t)])[(field, t)]
        df_use = src_df if src_df else total_df // len(acc)
        idf = _classic_idf(df_use, searcher.max_doc)
        top = sorted(
            acc, key=lambda x: (-float(x[2]), x[0])
        )[:MAX_VARIANTS_PER_TERM]
        for v, _d, b in top:
            pool.append((v, np.float32(np.float32(b * b) * idf)))
    pool = sorted(pool, key=lambda x: (-float(x[1]), x[0]))[:max_num_terms]
    clauses = sorted(pool, key=lambda x: x[0])
    return BooleanQuery(
        should=tuple(
            ConstantScoreQuery(
                boost=float(s), query=TermQuery(term=v, field=field)
            )
            for v, s in clauses
        )
    )


def fuzzy_like_this(searcher, query_string: str, k: int, **kw):
    """Top-k docs for the rewritten query (constant-score fold)."""
    return searcher.search(fuzzy_like_this_query(searcher, query_string, **kw), k)


def slow_fuzzy_query(
    searcher,
    term: str,
    min_similarity: float = 0.5,
    prefix_length: int = 0,
    k: int = 10,
    max_expansions: int = 50,
    field: str = "text",
):
    """SlowFuzzyQuery under the engine's constant-score-with-boost rewrite
    (the same simplification the engine's FuzzyQuery gate documents):
    top max_expansions variants by (boost desc, term asc), each a
    ConstantScoreQuery clause carrying the enum boost."""
    acc = slow_fuzzy_variants(
        searcher, term, min_similarity, prefix_length, field
    )
    top = sorted(acc, key=lambda x: (-float(x[2]), x[0]))[:max_expansions]
    clauses = sorted(top, key=lambda x: x[0])
    q = BooleanQuery(
        should=tuple(
            ConstantScoreQuery(
                boost=float(b), query=TermQuery(term=v, field=field)
            )
            for v, _d, b in clauses
        )
    )
    return searcher.search(q, k)
