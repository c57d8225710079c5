"""Span queries: position-algebra retrieval (Search/Spans re-derivation).

Span algebra over per-doc sorted (start, end) span lists — each node
materializes its matches from its children's (the lazy iterator chain of
the reference, unrolled per document):

- SpanTerm      (Spans/SpanTermQuery.cs): one (p, p+1) span per position.
- SpanOr        (SpanOrQuery.cs): merged child spans, duplicates kept.
- SpanNear ordered (SpanNearQuery.cs + NearSpansOrdered.cs): for each
  match anchor of the LAST clause, pick for every earlier clause the
  LATEST span strictly ordered before its successor (the
  ShrinkToAfterShortestMatch minimal-match rule,
  NearSpansOrdered.cs:340-437); slop = sum of non-overlapping gaps
  (:417); emit (first.start, last.end) when slop <= allowed.
- SpanNear unordered (NearSpansUnordered.cs): min-start pointer sweep;
  window = (min start, max end); match when windowLen - sum(childLens)
  <= slop; advance the min-start child each step.
- SpanFirst     (SpanFirstQuery.cs / SpanPositionRangeQuery): spans with
  end <= n.
- SpanNot       (SpanNotQuery.cs): include spans overlapping no exclude
  span.

DOCUMENTED DIVERGENCE: match ENUMERATION follows the minimal-match
definitions above rather than a 1:1 port of the reference's stateful
iterator advancement, so pathological overlapping-span cases can count a
different number of matches than Lucene; the emitted span set is the same
on non-overlapping inputs (fixture-tested against hand-traces of the
reference algorithms).

Scoring (Spans/SpanScorer.cs:79-95): freq = float32 fold over a doc's
matches of sloppyFreq(end - start) = 1/(1 + matchLength); the doc's (freq,
norm byte) goes through the searcher's SimScorer with one weight over every
leaf's termStats, duplicates counted (span_plan).
"""
from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from ..plans.query import Query
from .search import Empty, per_doc

Span = tuple[int, int]


@dataclass(frozen=True)
class SpanQuery(Query):
    """A span node (Search/Spans/SpanQuery.cs): IndexSearcher scores it
    through span_plan."""


@dataclass(frozen=True)
class SpanTermQuery(SpanQuery):
    term: str = ""
    field: str = "text"


@dataclass(frozen=True)
class SpanOrQuery(SpanQuery):
    clauses: tuple = ()


@dataclass(frozen=True)
class SpanNearQuery(SpanQuery):
    clauses: tuple = ()
    slop: int = 0
    in_order: bool = True


@dataclass(frozen=True)
class SpanFirstQuery(SpanQuery):
    match: Query | None = None
    end: int = 1


@dataclass(frozen=True)
class SpanNotQuery(SpanQuery):
    include: Query | None = None
    exclude: Query | None = None


@dataclass(frozen=True)
class PayloadNearQuery(Query):
    """Payload-scored ordered SpanNear (Search/Payloads/PayloadNearQuery.cs).

    Flat SpanTermQuery clauses only (the reference also accepts nested span
    trees; its GetPayloads recursion then re-processes nested nears'
    payloads — a quirk we do not reproduce). in_order=True only
    (NearSpansUnordered payload collection order is heap-dependent;
    documented out of scope).

    Scoring (PayloadNearSpanScorer.SetFreqCurrentDoc + GetScore):
    per minimal match, freq += sloppyFreq(end - start) in span order; the
    match's payloads are processed through the PayloadFunction in
    NearSpansOrdered collection order — LAST clause first, then clauses
    n-2 .. 0 (ShrinkToAfterShortestMatch unions the last clause's payload
    before the backward shrink loop, NearSpansOrdered.cs:357-434).
    Payload factor = the 4-byte float payload (PayloadHelper.DecodeSingle,
    as in PayloadTermQuery). Final score = spanScore * DocScore where
    DocScore = avg|min|max of seen factors (1.0 when none seen)."""

    clauses: tuple = ()  # SpanTermQuery only
    slop: int = 0
    in_order: bool = True
    function: str = "avg"  # avg | min | max


@dataclass(frozen=True)
class SpanMultiTermQueryWrapper(SpanQuery):
    """Span wrapper over a MultiTermQuery (Search/Spans/
    SpanMultiTermQueryWrapper.cs): rewrites to a SpanOrQuery containing a
    SpanTermQuery for every term the wrapped query matches in the index,
    visited in term (bytes) order like ScoringRewrite's TermsEnum walk —
    the idf-sum fold order is therefore sorted-term order. SpanOrQuery
    accepts all terms (CheckMaxClauseCount is a no-op, :185-188); the
    optional top_terms cap mirrors TopTermsSpanBooleanQueryRewrite with the
    constant-boost tie-break (equal boosts -> lexicographically smallest
    terms survive, TopTermsRewrite ScoreTerm comparer)."""

    query: Query | None = None  # Prefix/Wildcard/Regexp/TermRange query
    field: str = "text"
    top_terms: int | None = None


def expand_span_multiterm(searcher, q: Query) -> Query:
    """Replace every SpanMultiTermQueryWrapper in the tree with its
    SpanOrQuery expansion against the searcher's terms dict: the wrapped
    query's terms (IndexSearcher._expand, term order), cut at top_terms —
    the driver-side term list of Lucene's rewrite, which enumerates the
    matching terms to build the SpanOr."""
    if isinstance(q, SpanMultiTermQueryWrapper):
        keys = searcher._expand(q.query, q.field).terms[: q.top_terms]
        return SpanOrQuery(
            clauses=tuple(SpanTermQuery(term=t, field=f) for f, t in keys),
            boost=q.boost,
        )
    if isinstance(q, SpanOrQuery):
        return SpanOrQuery(
            clauses=tuple(expand_span_multiterm(searcher, c) for c in q.clauses),
            boost=q.boost,
        )
    if isinstance(q, SpanNearQuery):
        return SpanNearQuery(
            clauses=tuple(expand_span_multiterm(searcher, c) for c in q.clauses),
            slop=q.slop,
            in_order=q.in_order,
            boost=q.boost,
        )
    if isinstance(q, SpanFirstQuery):
        return SpanFirstQuery(
            match=expand_span_multiterm(searcher, q.match), end=q.end, boost=q.boost
        )
    if isinstance(q, SpanNotQuery):
        return SpanNotQuery(
            include=expand_span_multiterm(searcher, q.include),
            exclude=expand_span_multiterm(searcher, q.exclude),
            boost=q.boost,
        )
    return q


def leaf_terms(q: Query) -> list[tuple[str, str]]:
    """(field, term) leaves in query order (duplicates kept — idf sums them)."""
    if isinstance(q, SpanTermQuery):
        return [(q.field, q.term)]
    if isinstance(q, SpanOrQuery):
        return [t for c in q.clauses for t in leaf_terms(c)]
    if isinstance(q, SpanNearQuery):
        return [t for c in q.clauses for t in leaf_terms(c)]
    if isinstance(q, SpanFirstQuery):
        return leaf_terms(q.match)
    if isinstance(q, SpanNotQuery):
        return leaf_terms(q.include) + leaf_terms(q.exclude)
    raise TypeError(f"not a span query: {type(q).__name__}")


def required_terms(q: Query) -> set[tuple[str, str]]:
    """Leaves every match REQUIRES (for candidate pruning): all clauses of
    a near, the include side of a not; none under an or."""
    if isinstance(q, SpanTermQuery):
        return {(q.field, q.term)}
    if isinstance(q, SpanOrQuery):
        return set()
    if isinstance(q, SpanNearQuery):
        out: set = set()
        for c in q.clauses:
            out |= required_terms(c)
        return out
    if isinstance(q, SpanFirstQuery):
        return required_terms(q.match)
    if isinstance(q, SpanNotQuery):
        return required_terms(q.include)
    raise TypeError(f"not a span query: {type(q).__name__}")


def eval_spans(q: Query, positions: dict[tuple[str, str], list[int]]) -> list[Span]:
    """Evaluate a span tree for ONE document given leaf positions."""
    if isinstance(q, SpanTermQuery):
        return [(p, p + 1) for p in sorted(positions.get((q.field, q.term), []))]
    if isinstance(q, SpanOrQuery):
        out: list[Span] = []
        for c in q.clauses:
            out.extend(eval_spans(c, positions))
        return sorted(out)
    if isinstance(q, SpanFirstQuery):
        return [s for s in eval_spans(q.match, positions) if s[1] <= q.end]
    if isinstance(q, SpanNotQuery):
        inc = eval_spans(q.include, positions)
        exc = eval_spans(q.exclude, positions)
        return [
            s
            for s in inc
            if not any(not (s[1] <= e[0] or s[0] >= e[1]) for e in exc)
        ]
    if isinstance(q, SpanNearQuery):
        children = [eval_spans(c, positions) for c in q.clauses]
        if any(not ch for ch in children):
            return []
        if q.in_order:
            return _near_ordered(children, q.slop)
        return _near_unordered(children, q.slop)
    raise TypeError(f"not a span query: {type(q).__name__}")


def _ordered(a: Span, b: Span) -> bool:
    # DocSpansOrdered (NearSpansOrdered.cs:312-321)
    return (a[1] < b[1]) if a[0] == b[0] else (a[0] < b[0])


def _near_ordered_chains(
    children: list[list[Span]], slop: int
) -> list[tuple[Span, tuple[Span, ...]]]:
    """Minimal ordered matches WITH their per-clause chain spans (payload
    collection needs the chain; one candidate per anchor of the last
    clause — NearSpansOrdered emits at most one match per Next())."""
    out: list[tuple[Span, tuple[Span, ...]]] = []
    n = len(children)
    for anchor in children[-1]:
        chain = [anchor]
        ok = True
        for i in range(n - 2, -1, -1):
            nxt = chain[-1]
            # latest span of child i strictly ordered before nxt
            best = None
            for s in children[i]:
                if _ordered(s, nxt):
                    best = s
                else:
                    break  # sorted: once unordered, all later are too
            if best is None:
                ok = False
                break
            chain.append(best)
        if not ok:
            continue
        chain.reverse()
        match_slop = 0
        for prev, cur in zip(chain, chain[1:]):
            if cur[0] > prev[1]:  # only non-overlapping spans add to slop
                match_slop += cur[0] - prev[1]
        if match_slop <= slop:
            out.append(((chain[0][0], chain[-1][1]), tuple(chain)))
    return out


def _near_ordered(children: list[list[Span]], slop: int) -> list[Span]:
    # minimal matches can coincide for different anchors; keep one each
    return sorted({m for m, _chain in _near_ordered_chains(children, slop)})


def payload_near_doc_score(
    children: list[list[Span]],
    slop: int,
    payload_of: list[dict[int, float]],
    function: str,
) -> tuple[np.float32, np.float32]:
    """(freq, DocScore) for ONE document (PayloadNearSpanScorer semantics).

    children[i] = sorted (p, p+1) spans of flat term clause i; payload_of[i]
    maps position -> decoded f32 payload. Matches fold in span order; each
    match's payloads process in collection order (last clause, then
    clauses n-2 .. 0 — NearSpansOrdered.cs:357-434)."""
    matches = _near_ordered_chains(children, slop)
    matches.sort(key=lambda mc: mc[0])
    freq = np.float32(0.0)
    acc = np.float32(0.0)
    seen = 0
    mn = np.float32(np.inf)
    mx = np.float32(-np.inf)
    for (s0, e0), chain in matches:
        freq = np.float32(freq + np.float32(1.0) / np.float32(1 + (e0 - s0)))
        order = [len(chain) - 1] + list(range(len(chain) - 2, -1, -1))
        for i in order:
            v = payload_of[i].get(chain[i][0])
            if v is None or np.isnan(v):
                continue  # IsPayloadAvailable gate: absent payloads skip
            v32 = np.float32(v)
            acc = np.float32(acc + v32)
            seen += 1
            mn = min(mn, v32)
            mx = max(mx, v32)
    if seen == 0:
        return freq, np.float32(1.0)
    if function == "avg":
        ds = np.float32(acc / np.float32(seen))
    elif function == "min":
        ds = mn
    elif function == "max":
        ds = mx
    else:
        raise ValueError(f"unknown payload function {function!r}")
    return freq, ds


def _near_unordered(children: list[list[Span]], slop: int) -> list[Span]:
    idx = [0] * len(children)
    out: list[Span] = []
    while True:
        cur = [ch[i] for ch, i in zip(children, idx)]
        lo = min(s[0] for s in cur)
        hi = max(s[1] for s in cur)
        tot = sum(s[1] - s[0] for s in cur)
        if (hi - lo) - tot <= slop:
            out.append((lo, hi))
        # advance the min-start child (NearSpansUnordered queue pop)
        k = min(range(len(cur)), key=lambda j: (cur[j][0], cur[j][1]))
        idx[k] += 1
        if idx[k] >= len(children[k]):
            return sorted(set(out))


def span_freq(spans: list[Span]) -> np.float32:
    """float32 fold of 1/(1+matchLength) in span order (SpanScorer.cs:79-88)."""
    freq = np.float32(0.0)
    for s, e in spans:
        freq = np.float32(freq + np.float32(1.0) / np.float32(1 + (e - s)))
    return freq


def span_scores_oracle(index, q: Query, k1=1.2, b=0.75, boost=1.0):
    """Oracle-side: docid -> float32 span score over an OracleIndex."""
    from ..oracle import idf as idf_f32
    from ..oracle import norm_cache

    leaves = leaf_terms(q)
    s = np.float32(0.0)
    for _f, t in leaves:
        s = np.float32(s + idf_f32(len(index.postings.get(t, [])), index.max_doc))
    w = np.float32(
        np.float32(s * np.float32(boost))
        * np.float32(np.float32(k1) + np.float32(1.0))
    )
    cache = norm_cache(k1, b, index.avgdl)
    req = required_terms(q)
    cand: set[int] | None = None
    for _f, t in req or {lf for lf in leaves}:
        docs = set(index.positions.get(t, {}))
        cand = docs if cand is None else cand & docs
    if req == set():  # pure-or tree: union of leaves
        cand = set()
        for _f, t in leaves:
            cand |= set(index.positions.get(t, {}))
    out = {}
    for d in sorted(cand or ()):
        pos = {
            (f, t): index.positions.get(t, {}).get(d, []) for f, t in set(leaves)
        }
        spans = eval_spans(q, pos)
        if not spans:
            continue
        freq = span_freq(spans)
        norm = cache[index.norm_bytes[d]]
        out[d] = np.float32(w * freq / (freq + norm))
    return out


def span_scores_sim_oracle(index, q: Query, similarity: str, boost=1.0):
    """Oracle-side span scores under a non-BM25 similarity: the span freq
    machinery + the shared SimScorer kernel step (SpanWeight computes
    stats over ALL leaf termStats; SimilarityBase multi-stats sums the
    per-term kernels at the span freq)."""
    from ..oracle import sim_scores_from_freqs

    leaves = leaf_terms(q)
    req = required_terms(q)
    cand: set[int] | None = None
    for _f, t in req or {lf for lf in leaves}:
        docs = set(index.positions.get(t, {}))
        cand = docs if cand is None else cand & docs
    if req == set():  # pure-or tree: union of leaves
        cand = set()
        for _f, t in leaves:
            cand |= set(index.positions.get(t, {}))
    freqs: dict[int, np.float32] = {}
    for d in sorted(cand or ()):
        pos = {
            (f, t): index.positions.get(t, {}).get(d, []) for f, t in set(leaves)
        }
        spans = eval_spans(q, pos)
        if not spans:
            continue
        freqs[d] = np.float32(span_freq(spans))
    return sim_scores_from_freqs(
        index, [t for _f, t in leaves], freqs, similarity, boost=boost
    )


def payload_near_scores_oracle_sim(
    index, q: "PayloadNearQuery", similarity: str, mu: float = 2000.0,
    lam: float = 0.1,
) -> dict[int, np.float32]:
    """Oracle PayloadNearQuery under a non-BM25 similarity: the shared
    sloppyFreq/factor folds (payload_near_doc_score) feed the ACTIVE
    kernel via sim_scores_from_freqs, then f32(span * factor) —
    PayloadNearQuery.cs GetScore through Similarity.SimScorer."""
    from ..oracle import sim_scores_from_freqs

    terms = [c.term for c in q.clauses]
    cand: set[int] | None = None
    for t in terms:
        docs = set(index.positions.get(t, {}))
        cand = docs if cand is None else cand & docs
    freqs: dict[int, np.float32] = {}
    factors: dict[int, np.float32] = {}
    for d in sorted(cand or ()):
        children = [
            [(p, p + 1) for p in sorted(index.positions.get(t, {}).get(d, []))]
            for t in terms
        ]
        payload_of = [
            {
                p: float(np.float32(np.float32(p) + np.float32(1.0)))
                for p in index.positions.get(t, {}).get(d, [])
            }
            for t in terms
        ]
        freq, ds = payload_near_doc_score(children, q.slop, payload_of, q.function)
        if freq <= 0:
            continue
        freqs[d] = np.float32(freq)
        factors[d] = np.float32(ds)
    span = sim_scores_from_freqs(
        index, terms, freqs, similarity, boost=q.boost, mu=mu, lam=lam
    )
    return {d: np.float32(span[d] * factors[d]) for d in freqs}


def payload_near_scores_oracle(
    index, q: "PayloadNearQuery", k1=1.2, b=0.75
) -> dict[int, np.float32]:
    """Oracle-side PayloadNearQuery scores over an OracleIndex (the
    position_float provider: payload at occurrence p = f32(f32(p) + 1f))."""
    from ..oracle import idf as idf_f32
    from ..oracle import norm_cache

    terms = [c.term for c in q.clauses]
    s = np.float32(0.0)
    for t in terms:
        s = np.float32(s + idf_f32(len(index.postings.get(t, [])), index.max_doc))
    w = np.float32(
        np.float32(s * np.float32(q.boost))
        * np.float32(np.float32(k1) + np.float32(1.0))
    )
    cache = norm_cache(k1, b, index.avgdl)
    cand: set[int] | None = None
    for t in terms:
        docs = set(index.positions.get(t, {}))
        cand = docs if cand is None else cand & docs
    out: dict[int, np.float32] = {}
    for d in sorted(cand or ()):
        children = [
            [(p, p + 1) for p in sorted(index.positions.get(t, {}).get(d, []))]
            for t in terms
        ]
        payload_of = [
            {
                p: float(np.float32(np.float32(p) + np.float32(1.0)))
                for p in index.positions.get(t, {}).get(d, [])
            }
            for t in terms
        ]
        freq, ds = payload_near_doc_score(children, q.slop, payload_of, q.function)
        if freq <= 0:
            continue
        norm = cache[index.norm_bytes[d]]
        out[d] = np.float32(np.float32(w * freq / (freq + norm)) * ds)
    return out


def span_plan(searcher, q: Query, scored: bool = True):
    """A span query's plan node: its hits (docid, score), or docids only
    when not scored (a MUST_NOT span only bans).

    Through the positions kernel (search.slice_positions +
    reduce_positions), like the phrase scorer: every (field, term) leaf of
    the tree ships its positions (blocks conjunction-pruned by the required
    set), each doc's leaf positions run the span algebra, and the doc's
    (spanFreq, norm byte) is scored through the searcher's SimScorer with
    one weight over ALL leaf termStats (SpanWeight ->
    Similarity.ComputeWeight)."""
    q = expand_span_multiterm(searcher, q)
    leaves = leaf_terms(q)
    if not leaves:
        # e.g. a wrapper whose multi-term query matched nothing
        return Empty()
    keys = sorted(set(leaves))
    dfs = searcher.doc_freqs(keys)
    req = required_terms(q)
    if any(dfs[k] == 0 for k in req):
        return Empty()
    field = keys[0][0]
    w = searcher._sim_weights([(leaves, field, q.boost)])[0] if scored else None

    def freq_of(p, lf, _pay):
        pos: dict = {k: [] for k in keys}
        for pp, leaf in zip(p.tolist(), lf.tolist()):
            pos[keys[leaf]].append(pp)
        return span_freq(eval_spans(q, pos)), None

    leaves_of = {k: [(i, 0)] for i, k in enumerate(keys)}
    return searcher._plan_positions(
        leaves_of, per_doc(freq_of), w, field, prune=sorted(req) if len(req) >= 2 else ()
    )


def span_search(searcher, q: Query, k: int = 10) -> DataFrame:
    """Top-k span search: IndexSearcher.search (k capped at maxDoc,
    liveDocs masked, HitQueue order)."""
    return searcher.search(q, k)


def payload_near_plan(searcher, q: PayloadNearQuery, scored: bool = True):
    """A PayloadNearQuery's plan node (flat term clauses); unscored (a
    MUST_NOT one only bans) it is the ordered SpanNear over the same
    clauses, which matches the same docs with no payload read.

    Through the positions kernel like span_plan, with the aligned f32
    payload channel sliced beside the positions. The candidate set is
    conjunction-pruned on all clauses (a near requires every clause).

    Scored under EVERY similarity: PayloadNearSpanScorer routes the span
    score through the active SimScorer (Search/Payloads/PayloadNearQuery.cs;
    ComputeSlopFactor = 1/(distance+1) in every family, so the sloppyFreq
    fold is shared), one weight over the clauses in DECLARATION order
    (duplicates kept, like PayloadNearSpanWeight's multi-stats
    ComputeWeight), the payload factor multiplied in last — exactly the
    PayloadTermQuery route."""
    if not q.in_order:
        raise NotImplementedError(
            "PayloadNearQuery: unordered payload collection order is "
            "heap-dependent in the reference (NearSpansUnordered); ordered "
            "only here"
        )
    for c in q.clauses:
        if not isinstance(c, SpanTermQuery):
            raise TypeError(
                "PayloadNearQuery clauses must be SpanTermQuery, got "
                f"{type(c).__name__}"
            )
    fields = {c.field for c in q.clauses}
    if len(fields) > 1:
        # SpanNearQuery ctor: "all clauses must have same field"
        raise ValueError(
            f"PayloadNearQuery clauses must share one field, got {sorted(fields)}"
        )
    searcher._payload_guard(q.function)
    if not scored:
        return span_plan(searcher, SpanNearQuery(clauses=q.clauses, slop=q.slop), False)
    clauses = [(c.field, c.term) for c in q.clauses]
    keys = sorted(set(clauses))
    dfs = searcher.doc_freqs(keys)
    if any(dfs[k] == 0 for k in keys):
        return Empty()
    field = keys[0][0]
    w = searcher._sim_weights([(clauses, field, q.boost)])[0]
    key_of = {k: i for i, k in enumerate(keys)}
    clause_keys = [key_of[c] for c in clauses]
    slop, fn = q.slop, q.function

    def freq_of(p, lf, pay):
        pos_k: list[list[int]] = [[] for _ in keys]
        pay_k: list[dict] = [{} for _ in keys]
        for pp, leaf, v in zip(p.tolist(), lf.tolist(), pay.tolist()):
            pos_k[leaf].append(pp)
            pay_k[leaf][pp] = v
        children = [[(pp, pp + 1) for pp in pos_k[ck]] for ck in clause_keys]
        payload_of = [pay_k[ck] for ck in clause_keys]
        return payload_near_doc_score(children, slop, payload_of, fn)

    leaves_of = {k: [(i, 0)] for k, i in key_of.items()}
    return searcher._plan_positions(
        leaves_of, per_doc(freq_of), w, field,
        prune=keys if len(keys) >= 2 else (), pay=True,
    )


def payload_near_scores(searcher, q: PayloadNearQuery) -> DataFrame:
    """DataFrame(docid, score) of a PayloadNearQuery, liveDocs unmasked
    (payload_near_plan run by Spark)."""
    return searcher._spark(searcher._plan(q))


def payload_near_search(searcher, q: PayloadNearQuery, k: int = 10) -> DataFrame:
    """Top-k PayloadNearQuery search: IndexSearcher.search."""
    return searcher.search(q, k)
