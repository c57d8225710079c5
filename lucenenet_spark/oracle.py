"""Pure-Python/numpy oracle: exact Lucene 4.8 BM25 + boolean semantics.

Single-node, slow, trusted. Every Spark-side result must be rank- AND
score-identical (float32) to this module. Mirrors the reference's test
strategy (SURVEY.md §5): the oracle plays the role Lucene's brute-force
equivalence checks play in TestBoolean2.cs:300 etc.

Semantics ported (behavior, not code):
- idf = (float)ln(1 + (maxDoc - df + 0.5)/(df + 0.5))      BM25Similarity.cs:67-70
- avgdl = (float)(sumTotalTermFreq / (double)maxDoc)        BM25Similarity.cs:91-102
- norm byte = floatToByte315(1/(float)sqrt(fieldLength))    BM25Similarity.cs:110-122
- cache[b] = k1*((1-b_param) + b_param*NORM_TABLE[b]/avgdl) BM25Similarity.cs:220-233
- score = idf*(k1+1) * tf / (tf + cache[normByte])          BM25Similarity.cs:246-264
- boolean score = plain sum of clause scores (coord=1, queryNorm=1 for BM25)
  Similarity.cs:119-140; ConjunctionScorer.cs:120-126
- top-k order: score desc, docID asc                        HitQueue.cs:88-100
- all arithmetic float32 with double->float casts exactly as cited
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from .functions.analysis import tokenize_text, tokenize_with_positions
from .functions.smallfloat import NORM_TABLE, encode_norm


@dataclass
class OracleIndex:
    """In-memory inverted index over a list of texts (docID = list position)."""

    postings: dict[str, list[tuple[int, int]]]  # term -> [(docid, tf)] docid-asc
    norm_bytes: np.ndarray  # uint8 per doc
    max_doc: int
    sum_ttf: int
    doc_count: int  # docs with at least one token
    field_lengths: list[int] = field(default_factory=list)
    # term -> docid -> ascending token positions (stop/too-long slots counted)
    positions: dict[str, dict[int, list[int]]] = field(default_factory=dict)
    # keyword (omitNorms) fields: field -> term -> ascending [docid]
    kw_postings: dict[str, dict[str, list[int]]] = field(default_factory=dict)

    @property
    def avgdl(self) -> np.float32:
        # (float)(sumTotalTermFreq / (double)maxDoc); <=0 -> 1f
        if self.sum_ttf <= 0:
            return np.float32(1.0)
        return np.float32(np.float64(self.sum_ttf) / np.float64(self.max_doc))


def build_index(
    texts: list[str | None],
    keyword_docs: dict[str, list[str | None]] | None = None,
    analyzer: str = "standard",
) -> OracleIndex:
    postings: dict[str, list[tuple[int, int]]] = {}
    positions: dict[str, dict[int, list[int]]] = {}
    lengths: list[int] = []
    for docid, text in enumerate(texts):
        toks, poss = tokenize_with_positions(text, analyzer)
        lengths.append(len(toks))
        per_term: dict[str, list[int]] = {}
        for t, p in zip(toks, poss):
            per_term.setdefault(t, []).append(p)
        for term, plist in sorted(per_term.items()):
            postings.setdefault(term, []).append((docid, len(plist)))
            positions.setdefault(term, {})[docid] = plist
    norm_bytes = encode_norm(np.array(lengths, dtype=np.int64))
    sum_ttf = int(sum(lengths))
    kw_postings: dict[str, dict[str, list[int]]] = {}
    for fieldname, values in (keyword_docs or {}).items():
        fmap: dict[str, list[int]] = {}
        for docid, v in enumerate(values):
            if isinstance(v, str) and v != "":
                fmap.setdefault(v, []).append(docid)
            elif isinstance(v, (list, tuple)):
                # multi-valued keyword field: each distinct value once per
                # doc (StringField is DOCS-indexed — dup adds collapse)
                for x in sorted({x for x in v if isinstance(x, str) and x}):
                    fmap.setdefault(x, []).append(docid)
        kw_postings[fieldname] = fmap
    return OracleIndex(
        postings=postings,
        norm_bytes=norm_bytes,
        max_doc=len(texts),
        sum_ttf=sum_ttf,
        doc_count=sum(1 for n in lengths if n > 0),
        field_lengths=lengths,
        positions=positions,
        kw_postings=kw_postings,
    )


def idf(df: int, max_doc: int) -> np.float32:
    return np.float32(np.log(np.float64(1.0) + (max_doc - df + 0.5) / (df + 0.5)))


def norm_cache(k1: float, b: float, avgdl: np.float32) -> np.ndarray:
    """256-entry float32 cache of the freq-independent BM25 denominator part."""
    k1f, bf = np.float32(k1), np.float32(b)
    return (k1f * ((np.float32(1.0) - bf) + bf * NORM_TABLE / avgdl)).astype(np.float32)


def term_scores(
    index: OracleIndex, term: str, k1: float = 1.2, b: float = 0.75, boost: float = 1.0
) -> dict[int, np.float32]:
    """docid -> float32 BM25 score for one term (empty if term absent)."""
    plist = index.postings.get(term)
    if not plist:
        return {}
    t_idf = idf(len(plist), index.max_doc)
    # weightValue = (idf*boost) * (k1+1), every step in float32
    # (BM25Stats weight: BM25Similarity.cs:330-335; *(k1+1): :252)
    weight = np.float32(
        np.float32(t_idf * np.float32(boost)) * np.float32(np.float32(k1) + np.float32(1.0))
    )
    cache = norm_cache(k1, b, index.avgdl)
    out: dict[int, np.float32] = {}
    for docid, tf in plist:
        norm = cache[index.norm_bytes[docid]]
        freq = np.float32(tf)
        out[docid] = np.float32(weight * freq / (freq + norm))
    return out


# ---------------------------------------------------------------------------
# Boolean query evaluation (MUST / SHOULD / MUST_NOT + minNrShouldMatch)
# ---------------------------------------------------------------------------


def boolean_scores(
    index: OracleIndex,
    must: list[str] = (),
    should: list[str] = (),
    must_not: list[str] = (),
    min_should_match: int = 0,
    k1: float = 1.2,
    b: float = 0.75,
) -> dict[int, np.float32]:
    """docid -> summed float32 score, Lucene BooleanQuery semantics.

    - MUST: doc matches every clause; clause scores added.
    - SHOULD: optional unless no MUST clauses (then >=max(1,minShouldMatch) required);
      with MUST clauses, >= minShouldMatch of them required; matches add score.
    - MUST_NOT: excludes, contributes no score (ReqExclScorer).
    Scores accumulate in float32 one clause at a time, like Lucene's scorers.
    """
    must_maps = [term_scores(index, t, k1, b) for t in must]
    should_maps = [term_scores(index, t, k1, b) for t in should]
    not_docs: set[int] = set()
    for t in must_not:
        not_docs.update(term_scores(index, t, k1, b).keys())

    if must:
        docs = set(must_maps[0].keys())
        for m in must_maps[1:]:
            docs &= m.keys()
    else:
        need = max(1, min_should_match) if should else 0
        cnt: Counter[int] = Counter()
        for m in should_maps:
            cnt.update(m.keys())
        docs = {d for d, c in cnt.items() if c >= need}

    if must and should and min_should_match > 0:
        cnt = Counter()
        for m in should_maps:
            cnt.update(m.keys())
        docs = {d for d in docs if cnt.get(d, 0) >= min_should_match}

    docs -= not_docs

    out: dict[int, np.float32] = {}
    for d in sorted(docs):
        s = np.float32(0.0)
        for m in must_maps:
            s = np.float32(s + m[d])
        for m in should_maps:
            if d in m:
                s = np.float32(s + m[d])
        out[d] = s
    return out


def common_terms_scores(
    index: OracleIndex,
    terms: list[str],
    max_term_frequency: float,
    low_occur: str = "MUST",
    high_occur: str = "SHOULD",
    low_msm: float = 0.0,
    high_msm: float = 0.0,
    boost: float = 1.0,
    low_boost: float = 1.0,
    high_boost: float = 1.0,
    k1: float = 1.2,
    b: float = 0.75,
) -> dict[int, np.float32]:
    """CommonTermsQuery oracle (Lucene.Net.Queries/CommonTermsQuery.cs:193-259).

    Classifies each term high iff df>0 AND ((mtf>=1 AND df>mtf) OR
    df > ceil(f32(mtf)*f32(maxDoc))), then scores the rewritten
    MUST(lowGroup)+SHOULD(highGroup) boolean: group folds in term order,
    group boosts (x outer boost) folded into the term weights; all-high
    with msm 0 flips to a conjunction; fractional msm rounds half-even
    like .NET Math.Round."""
    import math

    dfs = {t: len(index.postings.get(t, ())) for t in terms}
    thr = math.ceil(float(np.float32(max_term_frequency) * np.float32(index.max_doc)))
    high = [
        t
        for t in terms
        if dfs[t] > 0
        and ((max_term_frequency >= 1.0 and dfs[t] > max_term_frequency) or dfs[t] > thr)
    ]
    low = [t for t in terms if t not in high]

    def _minnr(f: float, n: int) -> int:
        # float32 product before rounding (CommonTermsQuery.cs:189)
        if f >= 1.0 or f == 0.0:
            return int(f)
        return int(round(float(np.float32(f) * np.float32(n))))

    lb = float(np.float32(low_boost) * np.float32(boost))
    hb = float(np.float32(high_boost) * np.float32(boost))
    ob = float(np.float32(boost))

    def _group_scores(ts, occur, gboost, msm_f, force_must=False):
        maps = [term_scores(index, t, k1, b, boost=gboost) for t in ts]
        if occur == "MUST" or force_must:
            docs = set(maps[0].keys()) if maps else set()
            for m in maps[1:]:
                docs &= m.keys()
        else:
            need = max(1, _minnr(msm_f, len(ts)))
            cnt: Counter[int] = Counter()
            for m in maps:
                cnt.update(m.keys())
            docs = {d for d, c in cnt.items() if c >= need}
        out: dict[int, np.float32] = {}
        for d in docs:
            s = np.float32(0.0)
            for m in maps:
                if d in m:
                    s = np.float32(s + m[d])
            out[d] = s
        return out

    if not terms:
        return {}
    if len(terms) == 1:
        return term_scores(index, terms[0], k1, b, boost=ob)
    if not low:
        # degenerate branches overwrite the group boost with the outer
        # boost (highFreq.Boost = Boost — CommonTermsQuery.cs:241,:247)
        flip = _minnr(high_msm, len(high)) == 0 and high_occur != "MUST"
        return _group_scores(high, high_occur, ob, high_msm, force_must=flip)
    if not high:
        return _group_scores(low, low_occur, ob, low_msm)
    low_s = _group_scores(low, low_occur, lb, low_msm)
    high_s = _group_scores(high, high_occur, hb, high_msm)
    return {
        d: np.float32(s + high_s.get(d, np.float32(0.0))) for d, s in low_s.items()
    }


def dismax_scores(
    index: OracleIndex,
    terms: list[str],
    tie_breaker: float = 0.0,
    k1: float = 1.2,
    b: float = 0.75,
) -> dict[int, np.float32]:
    """DisjunctionMaxQuery: max clause score + tie*(sum of the others).

    Reference: DisjunctionMaxScorer (Search/DisjunctionMaxScorer.cs).
    """
    maps = [term_scores(index, t, k1, b) for t in terms]
    docs: set[int] = set()
    for m in maps:
        docs |= m.keys()
    tie = np.float32(tie_breaker)
    out = {}
    for d in docs:
        scores = [m[d] for m in maps if d in m]
        mx = np.float32(max(scores))
        ssum = np.float32(0.0)
        for s in scores:
            ssum = np.float32(ssum + s)
        out[d] = np.float32(mx + tie * np.float32(ssum - mx))
    return out


# ---------------------------------------------------------------------------
# Classic (TF-IDF / DefaultSimilarity) scoring — query-time only
# ---------------------------------------------------------------------------


def classic_idf(df: int, max_doc: int) -> np.float32:
    """(float)(log(numDocs/(double)(docFreq+1)) + 1.0) — DefaultSimilarity.cs:158-161."""
    return np.float32(
        np.log(np.float64(max_doc) / np.float64(df + 1)) + np.float64(1.0)
    )


def classic_boolean_scores(
    index: OracleIndex,
    must: list[str] = (),
    should: list[str] = (),
    must_not: list[str] = (),
    min_should_match: int = 0,
    boosts: dict[str, float] | None = None,
    query_boost: float = 1.0,
) -> dict[int, np.float32]:
    """DefaultSimilarity BooleanQuery scoring, float32-exact.

    Per clause: queryWeight = f32(idf * boost); query-level
    sumOfSquaredWeights = f32 fold of qw^2 (prohibited clauses excluded)
    times f32(query_boost^2) (BooleanWeight.GetValueForNormalization);
    queryNorm = (float)(1.0/sqrt(sum)) (DefaultSimilarity.cs:78-81);
    value = f32(f32(qw * queryNorm) * idf) (IDFStats.Normalize);
    per-doc clause score = f32(f32(f32(sqrt(freq)) * value) *
    DecodeNormValue(norm)) (TFIDFSimScorer.Score:687-692); summed in f32
    clause order, then multiplied by coord = overlap/(float)maxOverlap
    over ALL non-prohibited clauses (DefaultSimilarity.cs:71-74)."""
    from .functions.smallfloat import DECODE_TABLE

    boosts = boosts or {}
    terms = list(must) + list(should)
    n_must = len(must)
    qws = [
        np.float32(classic_idf(len(index.postings.get(t, [])), index.max_doc)
                   * np.float32(boosts.get(t, 1.0)))
        for t in terms
    ]
    ssq = np.float32(0.0)
    for qw in qws:
        ssq = np.float32(ssq + np.float32(qw * qw))
    ssq = np.float32(ssq * np.float32(np.float32(query_boost) * np.float32(query_boost)))
    qnorm = np.float32(np.float64(1.0) / np.sqrt(np.float64(ssq))) if ssq > 0 else np.float32(1.0)
    values = [
        np.float32(
            np.float32(qw * qnorm)
            * classic_idf(len(index.postings.get(t, [])), index.max_doc)
        )
        for qw, t in zip(qws, terms)
    ]
    maps = []
    for t, v in zip(terms, values):
        m = {}
        for docid, tf in index.postings.get(t, []):
            raw = np.float32(np.float32(np.sqrt(np.float32(tf))) * v)
            m[docid] = np.float32(raw * DECODE_TABLE[index.norm_bytes[docid]])
        maps.append(m)
    not_docs: set[int] = set()
    for t in must_not:
        not_docs.update(d for d, _tf in index.postings.get(t, []))
    must_maps, should_maps = maps[:n_must], maps[n_must:]
    if must:
        docs = set(must_maps[0].keys())
        for m in must_maps[1:]:
            docs &= m.keys()
    else:
        need = max(1, min_should_match) if should else 0
        cnt: Counter[int] = Counter()
        for m in should_maps:
            cnt.update(m.keys())
        docs = {d for d, c in cnt.items() if c >= need}
    if must and should and min_should_match > 0:
        cnt = Counter()
        for m in should_maps:
            cnt.update(m.keys())
        docs = {d for d in docs if cnt.get(d, 0) >= min_should_match}
    docs -= not_docs
    max_overlap = len(terms)
    out: dict[int, np.float32] = {}
    for d in sorted(docs):
        s = np.float32(0.0)
        overlap = 0
        for m in maps:
            if d in m:
                s = np.float32(s + m[d])
                overlap += 1
        coord = np.float32(np.float32(overlap) / np.float32(max_overlap))
        out[d] = np.float32(s * coord)
    return out


def classic_term_scores(
    index: OracleIndex, term: str, boost: float = 1.0
) -> dict[int, np.float32]:
    """Plain TermQuery under DefaultSimilarity (no coord — no BooleanWeight)."""
    from .functions.smallfloat import DECODE_TABLE

    plist = index.postings.get(term)
    if not plist:
        return {}
    t_idf = classic_idf(len(plist), index.max_doc)
    qw = np.float32(t_idf * np.float32(boost))
    ssq = np.float32(qw * qw)
    qnorm = np.float32(np.float64(1.0) / np.sqrt(np.float64(ssq)))
    value = np.float32(np.float32(qw * qnorm) * t_idf)
    out = {}
    for docid, tf in plist:
        raw = np.float32(np.float32(np.sqrt(np.float32(tf))) * value)
        out[docid] = np.float32(raw * DECODE_TABLE[index.norm_bytes[docid]])
    return out


# ---------------------------------------------------------------------------
# LM-Dirichlet similarity (query-time only)
# ---------------------------------------------------------------------------


def lmd_term_scores(
    index: OracleIndex, term: str, mu: float = 2000.0, boost: float = 1.0
) -> dict[int, np.float32]:
    """LMDirichletSimilarity scores (LMDirichletSimilarity.cs:74-78):
    cp = f32(f32(ttf)+1)/f32(f32(sumTotalTermFreq)+1); score = f32(boost) *
    f32(ln(f32(1 + f32(freq/f32(mu*cp)))) + ln(f32(mu/f32(docLen+mu)))),
    clamped at 0; docLen = NORM_TABLE[norm byte] (SimilarityBase's
    1/(byte315Decode)^2 table)."""
    plist = index.postings.get(term)
    if not plist:
        return {}
    ttf = sum(tf for _d, tf in plist)
    cp = np.float32(
        (np.float32(ttf) + np.float32(1.0))
        / (np.float32(index.sum_ttf) + np.float32(1.0))
    )
    mucp = np.float32(np.float32(mu) * cp)
    out = {}
    for docid, tf in plist:
        dl = NORM_TABLE[index.norm_bytes[docid]]
        inner1 = np.float32(1.0) + np.float32(np.float32(tf) / mucp)
        inner2 = np.float32(np.float32(mu) / np.float32(dl + np.float32(mu)))
        s = np.float32(
            np.float32(boost)
            * np.float32(np.log(np.float64(inner1)) + np.log(np.float64(inner2)))
        )
        out[docid] = s if s > 0 else np.float32(0.0)
    return out


def lmjm_term_scores(
    index: OracleIndex, term: str, lam: float = 0.1, boost: float = 1.0
) -> dict[int, np.float32]:
    """LMJelinekMercerSimilarity (LMJelinekMercerSimilarity.cs:57-60):
    score = f32(boost) * f32(ln(f32(1 + f32(f32(f32((1-λ)*tf)/docLen)
    / f32(λ*cp)))))."""
    plist = index.postings.get(term)
    if not plist:
        return {}
    ttf = sum(tf for _d, tf in plist)
    cp = np.float32(
        (np.float32(ttf) + np.float32(1.0))
        / (np.float32(index.sum_ttf) + np.float32(1.0))
    )
    lcp = np.float32(np.float32(lam) * cp)
    oml = np.float32(np.float32(1.0) - np.float32(lam))
    out = {}
    for docid, tf in plist:
        dl = NORM_TABLE[index.norm_bytes[docid]]
        inner = np.float32(
            np.float32(1.0)
            + np.float32(np.float32(np.float32(oml * np.float32(tf)) / dl) / lcp)
        )
        out[docid] = np.float32(
            np.float32(boost) * np.float32(np.log(np.float64(inner)))
        )
    return out


def dfr_gb2_term_scores(
    index: OracleIndex, term: str, boost: float = 1.0
) -> dict[int, np.float32]:
    """DFR GB2 (DFRSimilarity + BasicModelG + AfterEffectB +
    NormalizationH2 c=1) — see operators/simbase.py (basic_vec "g",
    ae_vec "b", tfn_vec "h2") for the cited float operation chain."""
    plist = index.postings.get(term)
    if not plist:
        return {}
    ttf = sum(tf for _d, tf in plist)
    df = len(plist)
    N = float(index.max_doc)
    Fv = float(ttf + 1)
    lam = Fv / (N + Fv)
    ln2 = np.log(2.0)
    l1 = np.log(lam + 1.0) / ln2
    l2 = np.log((1.0 + lam) / lam) / ln2
    avg = np.float32(np.float32(index.sum_ttf) / np.float32(index.max_doc))
    out = {}
    for docid, tf in plist:
        dl = NORM_TABLE[index.norm_bytes[docid]]
        inner = np.float32(1.0) + np.float32(
            np.float32(np.float32(1.0) * avg) / dl
        )
        tfn = np.float32(np.float64(np.float32(tf)) * (np.log(np.float64(inner)) / ln2))
        bm = np.float32(l1 + np.float64(tfn) * l2)
        ae = np.float32(
            np.float32(Fv + 1.0) / np.float32(np.float32(df + 1) * np.float32(tfn + np.float32(1.0)))
        )
        out[docid] = np.float32(np.float32(np.float32(boost) * bm) * ae)
    return out


def _dfr_ixb2_term_scores(
    index: OracleIndex, term: str, ine: bool, boost: float = 1.0
) -> dict[int, np.float32]:
    """Shared I(n)B2 / I(ne)B2 oracle (DFRSimilarity + BasicModelIn/Ine +
    AfterEffectB + NormalizationH2 c=1).

    BasicModelIn.cs:35-40: BM = tfn * f32(log2((N+1)/(df+0.5))) — the log2
    is computed in double, cast to float, THEN multiplied in float32.
    BasicModelIne.cs:35-41: same with ne = N·(1 − ((N−1)/N)^F) in double.
    AfterEffectB.cs:33-38: AE = f32(f32(ttf+2) / f32(f32(df+1)·f32(tfn+1)));
    DFRSimilarity.cs Score: f32(f32(boost·BM)·AE)."""
    plist = index.postings.get(term)
    if not plist:
        return {}
    ttf = sum(tf for _d, tf in plist)
    df = len(plist)
    N = float(index.max_doc)
    ln2 = np.log(2.0)
    if ine:
        denom = N * (1.0 - ((N - 1.0) / N) ** float(ttf)) + 0.5
    else:
        denom = df + 0.5
    l2c = np.float32(np.log((N + 1.0) / denom) / ln2)
    avg = np.float32(np.float32(index.sum_ttf) / np.float32(index.max_doc))
    out = {}
    for docid, tf in plist:
        dl = NORM_TABLE[index.norm_bytes[docid]]
        inner = np.float32(1.0) + np.float32(
            np.float32(np.float32(1.0) * avg) / dl
        )
        tfn = np.float32(np.float64(np.float32(tf)) * (np.log(np.float64(inner)) / ln2))
        bm = np.float32(tfn * l2c)
        ae = np.float32(
            np.float32(float(ttf) + 2.0)
            / np.float32(np.float32(df + 1) * np.float32(tfn + np.float32(1.0)))
        )
        out[docid] = np.float32(np.float32(np.float32(boost) * bm) * ae)
    return out


def dfr_inb2_term_scores(index, term, boost=1.0):
    return _dfr_ixb2_term_scores(index, term, ine=False, boost=boost)


def dfr_ineb2_term_scores(index, term, boost=1.0):
    return _dfr_ixb2_term_scores(index, term, ine=True, boost=boost)


def dfr_pl2_term_scores(
    index: OracleIndex, term: str, boost: float = 1.0
) -> dict[int, np.float32]:
    """DFR PL2 (DFRSimilarity + BasicModelP + AfterEffectL + H2 c=1) — see
    operators/simbase.py (basic_vec "p", ae_vec "l") for the cited float
    operation chain (BasicModelP.cs:43-48, AfterEffectL.cs:32-35)."""
    plist = index.postings.get(term)
    if not plist:
        return {}
    ttf = sum(tf for _d, tf in plist)
    N = float(index.max_doc)
    lam = np.float32(np.float32(ttf + 1) / np.float32(N + 1))
    ln2 = np.log(2.0)
    log2e = 1.0 / ln2
    avg = np.float32(np.float32(index.sum_ttf) / np.float32(index.max_doc))
    out = {}
    for docid, tf in plist:
        dl = NORM_TABLE[index.norm_bytes[docid]]
        inner = np.float32(1.0) + np.float32(
            np.float32(np.float32(1.0) * avg) / dl
        )
        tfn = np.float32(np.float64(np.float32(tf)) * (np.log(np.float64(inner)) / ln2))
        term1 = np.float64(tfn) * (np.log(np.float64(np.float32(tfn / lam))) / ln2)
        mid = np.float32(
            np.float32(lam + np.float32(np.float32(1.0) / np.float32(np.float32(12.0) * tfn)))
            - tfn
        )
        term2 = np.float64(mid) * log2e
        term3 = 0.5 * (np.log(2.0 * np.pi * np.float64(tfn)) / ln2)
        bm = np.float32(term1 + term2 + term3)
        ae = np.float32(np.float32(1.0) / np.float32(tfn + np.float32(1.0)))
        out[docid] = np.float32(np.float32(np.float32(boost) * bm) * ae)
    return out


def ib_ll_term_scores(
    index: OracleIndex, term: str, boost: float = 1.0
) -> dict[int, np.float32]:
    """IB LL-D-H2 (IBSimilarity + DistributionLL + LambdaDF +
    NormalizationH2 c=1): λ = f32(f32(df+1)/f32(N+1)) (LambdaDF.cs:36-39),
    score = f32(boost * f32(-ln(f32(λ/f32(tfn+λ)))))
    (DistributionLL.cs:37-40, IBSimilarity.cs:90-93)."""
    plist = index.postings.get(term)
    if not plist:
        return {}
    df = len(plist)
    N = float(index.max_doc)
    lam = np.float32(
        (np.float32(df) + np.float32(1.0)) / (np.float32(N) + np.float32(1.0))
    )
    ln2 = np.log(2.0)
    avg = np.float32(np.float32(index.sum_ttf) / np.float32(index.max_doc))
    out = {}
    for docid, tf in plist:
        dl = NORM_TABLE[index.norm_bytes[docid]]
        inner = np.float32(1.0) + np.float32(
            np.float32(np.float32(1.0) * avg) / dl
        )
        tfn = np.float32(np.float64(np.float32(tf)) * (np.log(np.float64(inner)) / ln2))
        ratio = np.float32(lam / np.float32(tfn + lam))
        dist = np.float32(-np.log(np.float64(ratio)))
        out[docid] = np.float32(np.float32(boost) * dist)
    return out


def ib_spl_term_scores(
    index: OracleIndex, term: str, boost: float = 1.0
) -> dict[int, np.float32]:
    """IB SPL-D-H2 (DistributionSPL.cs:33-43): λ as LambdaDF (clamped to
    0.99f at 1); score = f32(boost · f32(−ln((λ^f32(tfn/f32(tfn+1)) − λ)
    / f32(1−λ))))."""
    plist = index.postings.get(term)
    if not plist:
        return {}
    df = len(plist)
    N = float(index.max_doc)
    lam = np.float32(
        (np.float32(df) + np.float32(1.0)) / (np.float32(N) + np.float32(1.0))
    )
    if lam == np.float32(1.0):
        lam = np.float32(0.99)
    ln2 = np.log(2.0)
    avg = np.float32(np.float32(index.sum_ttf) / np.float32(index.max_doc))
    out = {}
    for docid, tf in plist:
        dl = NORM_TABLE[index.norm_bytes[docid]]
        inner = np.float32(1.0) + np.float32(
            np.float32(np.float32(1.0) * avg) / dl
        )
        tfn = np.float32(np.float64(np.float32(tf)) * (np.log(np.float64(inner)) / ln2))
        expo = np.float32(tfn / np.float32(tfn + np.float32(1.0)))
        num = np.power(np.float64(lam), np.float64(expo)) - np.float64(lam)
        den = np.float64(np.float32(np.float32(1.0) - lam))
        dist = np.float32(-np.log(num / den))
        out[docid] = np.float32(np.float32(boost) * dist)
    return out


def simbase_term_scores(
    index: OracleIndex, term: str, name: str, boost: float = 1.0
) -> dict[int, np.float32]:
    """Generic SimilarityBase oracle: any DFR (basic model x after-effect x
    normalization) or IB (distribution x lambda x normalization) member,
    scalar per-doc np.float32 arithmetic (independent of the engine's
    vectorized kernels in operators/simbase.py; same citations).

    `name` accepts the alias shorthands (dfr_gb2, ...) or full specs
    ("dfr:be:b:h2", "ib:spl:ttf:z", ...)."""
    plist = index.postings.get(term)
    if not plist:
        return {}
    df = len(plist)
    ttf = sum(tf for _d, tf in plist)
    nft = index.sum_ttf  # numberOfFieldTokens for the one analyzed field
    N = index.max_doc
    out = {}
    for docid, tf in plist:
        dl = NORM_TABLE[index.norm_bytes[docid]]
        out[docid] = simbase_kernel(
            name, N, df, ttf, nft, np.float32(tf), dl, boost
        )
    return out


def simbase_kernel(
    name: str, N: int, df: int, ttf: int, nft: int,
    freq32: np.float32, dl: np.float32, boost: float = 1.0,
) -> np.float32:
    """One SimilarityBase score for a (stats, freq, docLen) triple — the
    SimilarityBase.Score(stats, freq, docLen) scalar (works for phrase
    freqs too, which may be fractional sloppyFreq sums)."""
    from .operators.simbase import ALIASES

    spec = ALIASES.get(name, name).split(":")
    assert len(spec) == 4 and spec[0] in ("dfr", "ib"), name
    family, c1, c2, norm = spec
    Nd = float(N)
    ln2 = np.log(2.0)
    avg = (
        np.float32(np.float32(nft) / np.float32(N))
        if nft > 0
        else np.float32(1.0)
    )
    mu = np.float32(800.0)  # NormalizationH3 default
    zz = np.float32(0.30)  # NormalizationZ default

    def log2(x):
        return np.log(x) / ln2

    if True:
        tf32 = np.float32(freq32)
        # --- Normalization.Tfn ------------------------------------------
        if norm == "no":
            tfn = tf32
        elif norm == "h1":
            tfn = np.float32(np.float32(tf32 * avg) / dl)
        elif norm == "h2":
            inner = np.float32(1.0) + np.float32(
                np.float32(np.float32(1.0) * avg) / dl
            )
            tfn = np.float32(np.float64(tf32) * (np.log(np.float64(inner)) / ln2))
        elif norm == "h3":
            r = np.float32(
                (np.float32(ttf) + np.float32(1.0))
                / (np.float32(nft) + np.float32(1.0))
            )
            tfn = np.float32(
                np.float32(
                    np.float32(tf32 + np.float32(mu * r)) / np.float32(dl + mu)
                )
                * mu
            )
        else:  # z
            ratio = np.float32(avg / dl)
            tfn = np.float32(
                np.float64(tf32) * np.power(np.float64(ratio), np.float64(zz))
            )
        t64 = np.float64(tfn)
        if family == "dfr":
            # --- BasicModel.Score ---------------------------------------
            if c1 == "be":
                F = float(ttf) + 1.0 + t64
                Nn = F + Nd

                def fh(n, m):
                    return (m + 0.5) * log2(n / m) + (n - m) * log2(n)

                bm = np.float32(
                    -log2((Nn - 1.0) * np.e)
                    + fh(Nn + F - 1.0, Nn + F - t64 - 2.0)
                    - fh(F, F - t64)
                )
            elif c1 == "d":
                F = float(ttf) + 1.0 + t64
                phi = t64 / F
                nphi = 1.0 - phi
                p = 1.0 / (Nd + 1.0)
                D = phi * log2(phi / p) + nphi * log2(nphi / (1.0 - p))
                bm = np.float32(D * F + 0.5 * log2(1.0 + 2.0 * np.pi * t64 * nphi))
            elif c1 == "g":
                Fv = float(ttf + 1)
                lam = Fv / (Nd + Fv)
                bm = np.float32(log2(lam + 1.0) + t64 * log2((1.0 + lam) / lam))
            elif c1 == "if":
                bm = np.float32(
                    tfn * np.float32(log2(1.0 + (Nd + 1.0) / (float(ttf) + 0.5)))
                )
            elif c1 == "in":
                bm = np.float32(
                    tfn * np.float32(log2((Nd + 1.0) / (float(df) + 0.5)))
                )
            elif c1 == "ine":
                ne = Nd * (1.0 - ((Nd - 1.0) / Nd) ** float(ttf))
                bm = np.float32(
                    tfn * np.float32(log2((Nd + 1.0) / (ne + 0.5)))
                )
            else:  # p
                lam = np.float32(np.float32(ttf + 1) / np.float32(N + 1))
                term1 = t64 * (np.log(np.float64(np.float32(tfn / lam))) / ln2)
                mid = np.float32(
                    np.float32(
                        lam
                        + np.float32(
                            np.float32(1.0) / np.float32(np.float32(12.0) * tfn)
                        )
                    )
                    - tfn
                )
                term2 = np.float64(mid) * (1.0 / ln2)
                term3 = 0.5 * log2(2.0 * np.pi * t64)
                bm = np.float32(term1 + term2 + term3)
            # --- AfterEffect.Score --------------------------------------
            if c2 == "no":
                ae = np.float32(1.0)
            elif c2 == "b":
                ae = np.float32(
                    np.float32(ttf + 2)
                    / np.float32(np.float32(df + 1) * np.float32(tfn + np.float32(1.0)))
                )
            else:  # l
                ae = np.float32(np.float32(1.0) / np.float32(tfn + np.float32(1.0)))
            return np.float32(np.float32(np.float32(boost) * bm) * ae)
        else:  # ib
            lamnum = df if c2 == "df" else ttf
            lam = np.float32(
                (np.float32(lamnum) + np.float32(1.0))
                / (np.float32(N) + np.float32(1.0))
            )
            if c1 == "ll":
                ratio = np.float32(lam / np.float32(tfn + lam))
                dist = np.float32(-np.log(np.float64(ratio)))
            else:  # spl
                if lam == np.float32(1.0):
                    lam = np.float32(0.99)
                expo = np.float32(tfn / np.float32(tfn + np.float32(1.0)))
                num = np.power(np.float64(lam), np.float64(expo)) - np.float64(lam)
                den = np.float64(np.float32(np.float32(1.0) - lam))
                dist = np.float32(-np.log(num / den))
            return np.float32(np.float32(boost) * dist)


def kw_term_scores(
    index: OracleIndex, fieldname: str, term: str, k1: float = 1.2, boost: float = 1.0
) -> dict[int, np.float32]:
    """Keyword (omitNorms StringField) term scores: tf=1, norm=k1 constant
    (missing norms -> b treated as 0, BM25Similarity.cs:262)."""
    docs = index.kw_postings.get(fieldname, {}).get(term, [])
    if not docs:
        return {}
    t_idf = idf(len(docs), index.max_doc)
    weight = np.float32(
        np.float32(t_idf * np.float32(boost))
        * np.float32(np.float32(k1) + np.float32(1.0))
    )
    one = np.float32(1.0)
    s = np.float32(weight * one / (one + np.float32(k1)))
    return {d: s for d in docs}


# ---------------------------------------------------------------------------
# Phrase scoring (exact + sloppy) — PhraseQuery semantics
# ---------------------------------------------------------------------------


def phrase_weight(
    index: OracleIndex, terms: list[str], k1: float = 1.2, boost: float = 1.0
) -> np.float32:
    """Phrase weight: idf = float32 SUM of per-term idfs in clause order
    (BM25Similarity.IdfExplain over TermStatistics[], duplicates counted),
    then the same weight chain as a term (weight = f32(f32(idf*boost)*(k1+1)))."""
    s = np.float32(0.0)
    for t in terms:
        df = len(index.postings.get(t, []))
        s = np.float32(s + idf(df, index.max_doc))
    return np.float32(
        np.float32(s * np.float32(boost)) * np.float32(np.float32(k1) + np.float32(1.0))
    )


def exact_phrase_freq(
    index: OracleIndex, terms: list[str], offsets: list[int], docid: int
) -> int:
    """Number of alignment positions where every term sits at base+offset
    (ExactPhraseScorer counting)."""
    base_sets = []
    for t, off in zip(terms, offsets):
        plist = index.positions.get(t, {}).get(docid)
        if not plist:
            return 0
        base_sets.append({p - off for p in plist})
    out = base_sets[0]
    for s in base_sets[1:]:
        out = out & s
    return len(out)


def sloppy_phrase_freq(
    positions_per_term: list[list[int]], offsets: list[int], slop: int
) -> np.float32:
    """Lucene 4.8 SloppyPhraseScorer.PhraseFreq port (behavior, not code):
    each PhrasePositions iterates its (position - offset) list; a pq keeps
    the minimum; advancing the minimum past the next-lowest scores the best
    matchLength seen for that window with sloppyFreq = 1/(1+matchLength)
    (SloppyPhraseScorer.cs PhraseFreq; BM25Similarity.SloppyFreq). float32
    accumulation. Repeated-term phrases use the plain (non-rpts) algorithm —
    a documented divergence from Lucene's repeats handling."""
    import heapq

    adj = [
        sorted(p - off for p in plist)
        for plist, off in zip(positions_per_term, offsets)
    ]
    if any(not a for a in adj):
        return np.float32(0.0)
    iters = [iter(a) for a in adj]
    heap = []
    end = None
    for i, it in enumerate(iters):
        first = next(it)
        heap.append((first, i))
        end = first if end is None else max(end, first)
    heapq.heapify(heap)
    freq = np.float32(0.0)
    pos, idx = heapq.heappop(heap)
    match_length = end - pos
    while True:
        nxt = next(iters[idx], None)
        if nxt is None:
            break
        if nxt > end:
            end = nxt
        top = heap[0][0]
        if nxt > top:  # done minimizing the current match-length
            if match_length <= slop:
                freq = np.float32(
                    freq + np.float32(1.0) / np.float32(match_length + 1)
                )
            heapq.heappush(heap, (nxt, idx))
            pos, idx = heapq.heappop(heap)
            match_length = end - pos
        else:
            ml2 = end - nxt
            if ml2 < match_length:
                match_length = ml2
    if match_length <= slop:
        freq = np.float32(freq + np.float32(1.0) / np.float32(match_length + 1))
    return freq


def phrase_scores(
    index: OracleIndex,
    terms: list[str],
    offsets: list[int] | None = None,
    slop: int = 0,
    k1: float = 1.2,
    b: float = 0.75,
    boost: float = 1.0,
) -> dict[int, np.float32]:
    """docid -> float32 phrase BM25 score. offsets default to 0..n-1."""
    if offsets is None:
        offsets = list(range(len(terms)))
    if not terms:
        return {}
    cand = None
    for t in terms:
        docs = set(index.positions.get(t, {}))
        cand = docs if cand is None else cand & docs
    if not cand:
        return {}
    w = phrase_weight(index, terms, k1, boost)
    cache = norm_cache(k1, b, index.avgdl)
    out: dict[int, np.float32] = {}
    for d in sorted(cand):
        if slop == 0:
            freq = np.float32(exact_phrase_freq(index, terms, offsets, d))
        else:
            freq = sloppy_phrase_freq(
                [index.positions[t][d] for t in terms], offsets, slop
            )
        if freq > 0:
            norm = cache[index.norm_bytes[d]]
            out[d] = np.float32(w * freq / (freq + norm))
    return out


def multi_phrase_scores(
    index: OracleIndex,
    term_arrays: list[list[str]],
    offsets: list[int] | None = None,
    slop: int = 0,
    k1: float = 1.2,
    b: float = 0.75,
    boost: float = 1.0,
) -> dict[int, np.float32]:
    """docid -> float32 MultiPhraseQuery score (Search/MultiPhraseQuery.cs).

    Each slot's alternatives are position-unioned (UnionDocsAndPositionsEnum);
    weight idf folds over ALL (slot, term) pairs in declaration order,
    absent terms included with df=0 (MultiPhraseWeight allTermStats)."""
    if offsets is None:
        offsets = list(range(len(term_arrays)))
    if not term_arrays:
        return {}
    cand = None
    for arr in term_arrays:
        docs: set[int] = set()
        for t in arr:
            docs |= set(index.positions.get(t, {}))
        if not docs:
            return {}
        cand = docs if cand is None else cand & docs
    s = np.float32(0.0)
    for arr in term_arrays:
        for t in arr:
            s = np.float32(s + idf(len(index.postings.get(t, [])), index.max_doc))
    w = np.float32(
        np.float32(s * np.float32(boost)) * np.float32(np.float32(k1) + np.float32(1.0))
    )
    cache = norm_cache(k1, b, index.avgdl)
    out: dict[int, np.float32] = {}
    for d in sorted(cand):
        per = [
            sorted({p for t in arr for p in index.positions.get(t, {}).get(d, [])})
            for arr in term_arrays
        ]
        if any(not u for u in per):
            continue
        if slop == 0:
            base = {p - offsets[0] for p in per[0]}
            for u, off in zip(per[1:], offsets[1:]):
                base &= {p - off for p in u}
            freq = np.float32(len(base))
        else:
            freq = sloppy_phrase_freq(per, offsets, slop)
        if freq > 0:
            norm = cache[index.norm_bytes[d]]
            out[d] = np.float32(w * freq / (freq + norm))
    return out


def classic_tf(freq, tf_params: tuple | None = None) -> np.float32:
    """tf(freq) of the TF-IDF family, scalar: (float)Math.Sqrt(freq)
    (DefaultSimilarity.Tf), or SweetSpotSimilarity.BaselineTf
    (SweetSpotSimilarity.cs:172-180) for tf_params = (tf_base, tf_min):
    tf_base when freq <= tf_min, else (float)Math.Sqrt(freq + tf_base² -
    tf_min) with float operands."""
    freq = np.float32(freq)
    if tf_params is None:
        return np.float32(np.sqrt(freq))
    base, mn = np.float32(tf_params[0]), np.float32(tf_params[1])
    if freq <= mn:
        return base
    op = np.float32(np.float32(freq + np.float32(base * base)) - mn)
    return np.float32(np.sqrt(np.float64(op)))


def _clause_score_map_classic(index, spec, value: np.float32, tf_params=None):
    """docid -> f32 clause score under classic TFIDF (or SweetSpot's
    BaselineTf for tf_params) for a term or ("phrase", terms, slop) spec,
    given the normalized value."""
    from .functions.smallfloat import DECODE_TABLE

    out: dict[int, np.float32] = {}
    if isinstance(spec, str):
        for docid, tf in index.postings.get(spec, ()):
            raw = np.float32(classic_tf(tf, tf_params) * value)
            out[docid] = np.float32(raw * DECODE_TABLE[index.norm_bytes[docid]])
        return out
    _tag, terms, slop = spec
    cand = None
    for t in terms:
        docs = set(index.positions.get(t, {}))
        cand = docs if cand is None else cand & docs
    for d in sorted(cand or ()):
        if slop == 0:
            fr = np.float32(
                exact_phrase_freq(index, terms, list(range(len(terms))), d)
            )
        else:
            fr = sloppy_phrase_freq(
                [index.positions[t][d] for t in terms],
                list(range(len(terms))),
                slop,
            )
        if fr > 0:
            raw = np.float32(classic_tf(fr, tf_params) * value)
            out[d] = np.float32(raw * DECODE_TABLE[index.norm_bytes[d]])
    return out


def _match_docs_spec(index: OracleIndex, spec) -> set[int]:
    """Docids matching a term-or-phrase clause spec (for MUST_NOT)."""
    if isinstance(spec, str):
        return {d for d, _tf in index.postings.get(spec, ())}
    _t, terms, slop = spec
    cand = None
    for t in terms:
        docs = set(index.positions.get(t, {}))
        cand = docs if cand is None else cand & docs
    out = set()
    for d in cand or ():
        if slop == 0:
            fr = exact_phrase_freq(index, terms, list(range(len(terms))), d)
        else:
            fr = sloppy_phrase_freq(
                [index.positions[t][d] for t in terms],
                list(range(len(terms))),
                slop,
            )
        if fr > 0:
            out.add(d)
    return out


def classic_mixed_boolean_scores(
    index: OracleIndex,
    must: list = (),
    should: list = (),
    must_not: list[str] = (),
    min_should_match: int = 0,
    query_boost: float = 1.0,
    tf_params: tuple | None = None,
) -> dict[int, np.float32]:
    """Classic TFIDF BooleanQuery with term AND phrase clauses: the shared
    sumOfSquaredWeights couples every clause's queryWeight; coord counts
    all non-prohibited clauses. Clause spec: a term string or
    ("phrase", [terms], slop). tf_params: SweetSpot's (tf_base, tf_min)."""
    clauses = list(must) + list(should)
    n_must = len(must)

    def _idf(spec):
        if isinstance(spec, str):
            return classic_idf(len(index.postings.get(spec, ())), index.max_doc)
        acc = np.float32(0.0)
        for t in spec[1]:
            acc = np.float32(
                acc + classic_idf(len(index.postings.get(t, ())), index.max_doc)
            )
        return acc

    idfs = [_idf(c) for c in clauses]
    qws = [np.float32(i * np.float32(1.0)) for i in idfs]
    ssq = np.float32(0.0)
    for qw in qws:
        ssq = np.float32(ssq + np.float32(qw * qw))
    ssq = np.float32(
        ssq * np.float32(np.float32(query_boost) * np.float32(query_boost))
    )
    qnorm = (
        np.float32(np.float64(1.0) / np.sqrt(np.float64(ssq)))
        if ssq > 0
        else np.float32(1.0)
    )
    values = [np.float32(np.float32(qw * qnorm) * i) for qw, i in zip(qws, idfs)]
    maps = [
        _clause_score_map_classic(index, c, v, tf_params)
        for c, v in zip(clauses, values)
    ]
    not_docs: set[int] = set()
    for spec in must_not:
        not_docs |= _match_docs_spec(index, spec)
    must_maps, should_maps = maps[:n_must], maps[n_must:]
    if must:
        docs = set(must_maps[0].keys())
        for m in must_maps[1:]:
            docs &= m.keys()
    else:
        need = max(1, min_should_match) if should else 0
        cnt: Counter[int] = Counter()
        for m in should_maps:
            cnt.update(m.keys())
        docs = {d for d, c in cnt.items() if c >= need}
    if must and should and min_should_match > 0:
        cnt = Counter()
        for m in should_maps:
            cnt.update(m.keys())
        docs = {d for d in docs if cnt.get(d, 0) >= min_should_match}
    docs -= not_docs
    out: dict[int, np.float32] = {}
    max_overlap = len(clauses)
    for d in sorted(docs):
        ssum = np.float32(0.0)
        overlap = 0
        for m in maps:
            if d in m:
                ssum = np.float32(ssum + m[d])
                overlap += 1
        coord = np.float32(np.float32(overlap) / np.float32(max_overlap))
        out[d] = np.float32(ssum * coord)
    return out


def sim_mixed_boolean_scores(
    index: OracleIndex,
    similarity: str,
    must: list = (),
    should: list = (),
    must_not: list[str] = (),
    min_should_match: int = 0,
) -> dict[int, np.float32]:
    """SimilarityBase-family (or BM25) BooleanQuery with term AND phrase
    clauses: queryNorm = coord = 1, so the score is the plain f32
    clause-order fold of the per-clause scores."""

    def _clause_map(spec):
        if similarity == "bm25":
            if isinstance(spec, str):
                return term_scores(index, spec)
            return phrase_scores(index, list(spec[1]), slop=spec[2])
        if isinstance(spec, str):
            if similarity == "lmd":
                return lmd_term_scores(index, spec)
            if similarity == "lmjm":
                return lmjm_term_scores(index, spec)
            return simbase_term_scores(index, spec, similarity)
        _tag, terms, slop = spec
        return phrase_scores_sim(index, list(terms), similarity, slop=slop)

    clauses = list(must) + list(should)
    maps = [_clause_map(c) for c in clauses]
    n_must = len(must)
    must_maps, should_maps = maps[:n_must], maps[n_must:]
    not_docs: set[int] = set()
    for spec in must_not:
        not_docs |= _match_docs_spec(index, spec)
    if must:
        docs = set(must_maps[0].keys())
        for m in must_maps[1:]:
            docs &= m.keys()
    else:
        need = max(1, min_should_match) if should else 0
        cnt: Counter[int] = Counter()
        for m in should_maps:
            cnt.update(m.keys())
        docs = {d for d, c in cnt.items() if c >= need}
    if must and should and min_should_match > 0:
        cnt = Counter()
        for m in should_maps:
            cnt.update(m.keys())
        docs = {d for d in docs if cnt.get(d, 0) >= min_should_match}
    docs -= not_docs
    out: dict[int, np.float32] = {}
    for d in sorted(docs):
        ssum = np.float32(0.0)
        for m in maps:
            if d in m:
                ssum = np.float32(ssum + m[d])
        out[d] = ssum
    return out


def sim_dismax_scores(
    index: OracleIndex,
    similarity: str,
    specs: list,
    tie_breaker: float = 0.0,
) -> dict[int, np.float32]:
    """DisMax under a SimilarityBase member (queryNorm = 1): per-clause
    maps under the active sim, score = f32(max + tie*(sum - max)) with
    the sum folded f32 in clause order."""

    def _m(spec):
        if isinstance(spec, str):
            if similarity == "lmd":
                return lmd_term_scores(index, spec)
            if similarity == "lmjm":
                return lmjm_term_scores(index, spec)
            return simbase_term_scores(index, spec, similarity)
        _t, terms, slop = spec
        return phrase_scores_sim(index, list(terms), similarity, slop=slop)

    maps = [_m(sp) for sp in specs]
    docs = set()
    for m in maps:
        docs |= m.keys()
    tie = np.float32(tie_breaker)
    out: dict[int, np.float32] = {}
    for d in sorted(docs):
        vals = [m.get(d, np.float32(0.0)) for m in maps]
        mx = np.float32(max(vals))
        ssum = np.float32(0.0)
        for v in vals:
            ssum = np.float32(ssum + v)
        out[d] = np.float32(mx + np.float32(tie * np.float32(ssum - mx)))
    return out


def classic_dismax_scores(
    index: OracleIndex,
    specs: list,
    tie_breaker: float = 0.0,
    query_boost: float = 1.0,
    tf_params: tuple | None = None,
) -> dict[int, np.float32]:
    """DisMax under classic TFIDF (or SweetSpot's BaselineTf for
    tf_params): shared queryNorm over all sub-clause weights, per-clause
    TFIDF kernel, max + tie*(sum - max)."""

    def _idf(spec):
        if isinstance(spec, str):
            return classic_idf(len(index.postings.get(spec, ())), index.max_doc)
        acc = np.float32(0.0)
        for t in spec[1]:
            acc = np.float32(
                acc + classic_idf(len(index.postings.get(t, ())), index.max_doc)
            )
        return acc

    idfs = [_idf(sp) for sp in specs]
    qws = [np.float32(i * np.float32(1.0)) for i in idfs]
    ssq = np.float32(0.0)
    for qw in qws:
        ssq = np.float32(ssq + np.float32(qw * qw))
    ssq = np.float32(
        ssq * np.float32(np.float32(query_boost) * np.float32(query_boost))
    )
    qnorm = (
        np.float32(np.float64(1.0) / np.sqrt(np.float64(ssq)))
        if ssq > 0
        else np.float32(1.0)
    )
    values = [np.float32(np.float32(qw * qnorm) * i) for qw, i in zip(qws, idfs)]
    maps = [
        _clause_score_map_classic(index, sp, v, tf_params)
        for sp, v in zip(specs, values)
    ]
    docs = set()
    for m in maps:
        docs |= m.keys()
    tie = np.float32(tie_breaker)
    out: dict[int, np.float32] = {}
    for d in sorted(docs):
        vals = [m.get(d, np.float32(0.0)) for m in maps]
        mx = np.float32(max(vals))
        ssum = np.float32(0.0)
        for v in vals:
            ssum = np.float32(ssum + v)
        out[d] = np.float32(mx + np.float32(tie * np.float32(ssum - mx)))
    return out


def phrase_scores_sim(
    index: OracleIndex,
    terms: list[str],
    similarity: str,
    offsets: list[int] | None = None,
    slop: int = 0,
    boost: float = 1.0,
    mu: float = 2000.0,
    lam: float = 0.1,
) -> dict[int, np.float32]:
    """PhraseQuery under a non-BM25 similarity, float32-exact.

    Reference: every Similarity scores every Scorer. classic TF-IDF:
    PhraseWeight idf = f32 SUM of per-term idfs (TFIDFSimilarity.IdfExplain
    over allTermStats), score = f32(f32(sqrt(freq)) * value) *
    DecodeNormValue(norm) (TFIDFSimScorer.Score) — no coord for a
    standalone phrase. SimilarityBase members (lmd/lmjm/DFR/IB):
    ComputeWeight builds one BasicStats per term and MultiSimScorer SUMS
    the per-term kernels at the SAME phrase freq in declaration order
    (SimilarityBase.cs GetSimScorer multi branch), f32 accumulation."""
    if offsets is None:
        offsets = list(range(len(terms)))
    if not terms:
        return {}
    cand = None
    for t in terms:
        docs = set(index.positions.get(t, {}))
        cand = docs if cand is None else cand & docs
    if not cand:
        return {}
    freqs: dict[int, np.float32] = {}
    for d in sorted(cand):
        if slop == 0:
            fr = np.float32(exact_phrase_freq(index, terms, offsets, d))
        else:
            fr = sloppy_phrase_freq(
                [index.positions[t][d] for t in terms], offsets, slop
            )
        if fr > 0:
            freqs[d] = fr
    return sim_scores_from_freqs(
        index, terms, freqs, similarity, boost=boost, mu=mu, lam=lam
    )


def sim_scores_from_freqs(
    index: OracleIndex,
    terms: list[str],
    freqs: dict[int, np.float32],
    similarity: str,
    boost: float = 1.0,
    mu: float = 2000.0,
    lam: float = 0.1,
) -> dict[int, np.float32]:
    """Apply a non-BM25 similarity to precomputed per-doc frequencies (a
    phrase freq, a span sloppyFreq sum, ...) with the given leaf terms
    providing the stats — the Similarity.SimScorer.Score(doc, freq) step
    shared by phrase and span scoring."""
    from .functions.smallfloat import DECODE_TABLE

    out: dict[int, np.float32] = {}
    if similarity == "classic":
        s = np.float32(0.0)
        for t in terms:
            s = np.float32(
                s + classic_idf(len(index.postings.get(t, [])), index.max_doc)
            )
        qw = np.float32(s * np.float32(boost))
        ssq = np.float32(qw * qw)
        qnorm = (
            np.float32(np.float64(1.0) / np.sqrt(np.float64(ssq)))
            if ssq > 0
            else np.float32(1.0)
        )
        value = np.float32(np.float32(qw * qnorm) * s)
        for d, fr in freqs.items():
            raw = np.float32(np.float32(np.sqrt(np.float32(fr))) * value)
            out[d] = np.float32(raw * DECODE_TABLE[index.norm_bytes[d]])
        return out
    if similarity in ("lmd", "lmjm"):
        cps = []
        for t in terms:
            ttf = sum(tf for _d, tf in index.postings.get(t, ()))
            cps.append(
                np.float32(
                    (np.float32(ttf) + np.float32(1.0))
                    / (np.float32(index.sum_ttf) + np.float32(1.0))
                )
            )
        for d, fr in freqs.items():
            dl = NORM_TABLE[index.norm_bytes[d]]
            total = np.float32(0.0)
            for cp in cps:
                if similarity == "lmd":
                    mucp = np.float32(np.float32(mu) * cp)
                    inner1 = np.float32(1.0) + np.float32(np.float32(fr) / mucp)
                    inner2 = np.float32(
                        np.float32(mu) / np.float32(dl + np.float32(mu))
                    )
                    sc = np.float32(
                        np.float32(boost)
                        * np.float32(
                            np.log(np.float64(inner1)) + np.log(np.float64(inner2))
                        )
                    )
                    if not sc > 0:
                        sc = np.float32(0.0)
                else:
                    lcp = np.float32(np.float32(lam) * cp)
                    oml = np.float32(np.float32(1.0) - np.float32(lam))
                    inner = np.float32(
                        np.float32(1.0)
                        + np.float32(
                            np.float32(np.float32(oml * np.float32(fr)) / dl) / lcp
                        )
                    )
                    sc = np.float32(
                        np.float32(boost) * np.float32(np.log(np.float64(inner)))
                    )
                total = np.float32(total + sc)
            out[d] = total
        return out
    # DFR / IB matrix member: per-term stats, kernels summed at phrase freq
    stats = []
    for t in terms:
        plist = index.postings.get(t, ())
        stats.append((len(plist), sum(tf for _d, tf in plist)))
    for d, fr in freqs.items():
        dl = NORM_TABLE[index.norm_bytes[d]]
        total = np.float32(0.0)
        for df_, ttf in stats:
            sc = simbase_kernel(
                similarity, index.max_doc, df_, ttf, index.sum_ttf,
                np.float32(fr), dl, boost,
            )
            total = np.float32(total + sc)
        out[d] = total
    return out


def payload_term_scores(
    index: OracleIndex,
    term: str,
    function: str = "avg",
    include_span_score: bool = True,
    k1: float = 1.2,
    b: float = 0.75,
    boost: float = 1.0,
) -> dict[int, np.float32]:
    """PayloadTermQuery scores (Search/Payloads/PayloadTermQuery.cs) over
    the position_float provider: payload at each occurrence decodes to
    f32(f32(position) + 1f) (PayloadHelper.DecodeSingle of the bytes the
    builder wrote).

    Span part: each occurrence is a (p, p+1) span -> sloppyFreq(1) = 0.5f
    per match, folded in float32 (SpanScorer.cs:79-95); score =
    w*freq/(freq+norm) with the term weight chain. Payload part: the chosen
    PayloadFunction folds factors in position order (ProcessPayload);
    DocScore = sum/seen (avg), running min, or running max; no payloads ->
    1f. Final = f32(spanScore * DocScore), or DocScore alone when
    include_span_score is False (GetScore)."""
    plist = index.positions.get(term)
    if not plist:
        return {}
    t_idf = idf(len(index.postings.get(term, [])), index.max_doc)
    w = np.float32(
        np.float32(t_idf * np.float32(boost))
        * np.float32(np.float32(k1) + np.float32(1.0))
    )
    cache = norm_cache(k1, b, index.avgdl)
    out: dict[int, np.float32] = {}
    for d, poss in sorted(plist.items()):
        pay_sum = np.float32(0.0)
        pay_min = pay_max = None
        for p in poss:
            f = np.float32(np.float32(p) + np.float32(1.0))
            pay_sum = np.float32(pay_sum + f)
            pay_min = f if pay_min is None else min(pay_min, f)
            pay_max = f if pay_max is None else max(pay_max, f)
        seen = len(poss)
        if not seen:
            factor = np.float32(1.0)
        elif function == "avg":
            factor = np.float32(pay_sum / np.float32(seen))
        elif function == "min":
            factor = pay_min
        else:
            factor = pay_max
        if include_span_score:
            freq = np.float32(0.0)
            for _ in poss:
                freq = np.float32(freq + np.float32(0.5))
            span = np.float32(w * freq / (freq + cache[index.norm_bytes[d]]))
            out[d] = np.float32(span * factor)
        else:
            out[d] = np.float32(factor)
    return out


def payload_term_scores_sim(
    index: OracleIndex,
    term: str,
    similarity: str,
    function: str = "avg",
    boost: float = 1.0,
    mu: float = 2000.0,
    lam: float = 0.1,
) -> dict[int, np.float32]:
    """PayloadTermQuery under a non-BM25 similarity: the span part routes
    through the ACTIVE SimScorer (PayloadTermQuery.cs GetScore;
    ComputeSlopFactor = 1/(distance+1) in every family, so freq is the
    same f32 fold of 0.5 per occurrence), then f32(spanScore * factor)
    with the PayloadFunction fold unchanged."""
    plist = index.positions.get(term)
    if not plist:
        return {}
    freqs: dict[int, np.float32] = {}
    factors: dict[int, np.float32] = {}
    for d, poss in sorted(plist.items()):
        pay_sum = np.float32(0.0)
        pay_min = pay_max = None
        freq = np.float32(0.0)
        for p in poss:
            f = np.float32(np.float32(p) + np.float32(1.0))
            pay_sum = np.float32(pay_sum + f)
            pay_min = f if pay_min is None else min(pay_min, f)
            pay_max = f if pay_max is None else max(pay_max, f)
            freq = np.float32(freq + np.float32(0.5))
        seen = len(poss)
        if not seen:
            factors[d] = np.float32(1.0)
        elif function == "avg":
            factors[d] = np.float32(pay_sum / np.float32(seen))
        elif function == "min":
            factors[d] = pay_min
        else:
            factors[d] = pay_max
        freqs[d] = freq
    span = sim_scores_from_freqs(
        index, [term], freqs, similarity, boost=boost, mu=mu, lam=lam
    )
    return {d: np.float32(span[d] * factors[d]) for d in freqs}


def top_k(scores: dict[int, np.float32], k: int) -> list[tuple[int, np.float32]]:
    """(docid, score) ranked score desc then docID asc — HitQueue.cs:88-100."""
    return sorted(scores.items(), key=lambda kv: (-float(kv[1]), kv[0]))[:k]


def search_after(
    scores: dict[int, np.float32], k: int, after_score: float, after_doc: int
) -> list[tuple[int, np.float32]]:
    """Deep paging: hits strictly after the (score, docID) cursor.

    Reference: IndexSearcher.cs:282-301 + PagingTopScoreDocCollector.
    """
    ranked = sorted(scores.items(), key=lambda kv: (-float(kv[1]), kv[0]))
    out = [
        (d, s)
        for d, s in ranked
        if float(s) < after_score or (float(s) == after_score and d > after_doc)
    ]
    return out[:k]
