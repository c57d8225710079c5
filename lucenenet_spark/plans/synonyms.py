r"""Query-time synonyms: SolrSynonymParser's file format + the 4.8
QueryBuilder expansion shapes.

Reference semantics:
- Analysis/Synonym/SolrSynonymParser.cs — line format: `#` comments;
  `a, b, c` is a bidirectional group (expand=true: every input maps to
  EVERY term of the group including itself; expand=false: every input
  maps to the first term only); `a, b => x, y` maps each LHS input to
  exactly the RHS outputs (originals NOT kept). Backslash escapes `\,`
  `\=>` and whitespace trimming per entry. Entries are run through the
  same analyzer as the index so lookups happen on analyzed terms
  (SynonymMap.Builder.Add receives analyzed CharsRefs).
- Util/QueryBuilder.cs — multiple terms at ONE position become a
  BooleanQuery of SHOULD TermQuery clauses for a lone term
  (CreateFieldQuery's BOOLEAN branch) and a MultiPhraseQuery position
  when inside a phrase (the MUST_PHRASE branch).

Deliberately out of scope, loudly: MULTI-WORD synonyms. Lucene 4.8's
SynonymFilter emits multi-word outputs as a flat token stream that the
(pre-graph) QueryBuilder then mis-positions — the known "sausagization"
defect fixed only by 6.x's SynonymGraphFilter. Rather than reproduce a
query shape the reference itself documents as wrong, entries whose
analyzed form spans more than one token raise ValueError. Index-time
synonym injection is likewise out of scope (documented non-goal).
"""

from __future__ import annotations

import re

from ..functions.analysis import tokenize_text
from .query import (
    BooleanQuery,
    MultiPhraseQuery,
    PhraseQuery,
    Query,
    TermQuery,
    simplify,
)

_SPLIT_ARROW = re.compile(r"(?<!\\)=>")
_SPLIT_COMMA = re.compile(r"(?<!\\),")


def _unescape(entry: str) -> str:
    return re.sub(r"\\(.)", r"\1", entry.strip())


def _analyze_one(entry: str, analyzer: str) -> str:
    toks = tokenize_text(entry, analyzer)
    if len(toks) == 0:
        # SolrSynonymParser.AnalyzeException for all-stopword entries
        raise ValueError(
            f"synonym entry {entry!r} analyzes to zero tokens"
        )
    if len(toks) > 1:
        raise ValueError(
            f"synonym entry {entry!r} analyzes to {len(toks)} tokens; "
            "multi-word synonyms are out of scope (4.8's query-time "
            "SynonymFilter flattens them incorrectly — "
            "SolrSynonymParser.cs / QueryBuilder.cs caveat)"
        )
    return toks[0]


def parse_solr_synonyms(
    text: str, analyzer: str = "standard", expand: bool = True
) -> dict:
    """SolrSynonymParser.cs line grammar -> {analyzed term: (outputs,)}.
    Output tuples keep first-seen order with duplicates collapsed, like
    SynonymMap.Builder's dedup of (input, output) pairs."""
    out: dict = {}

    def add(inp: str, outputs) -> None:
        seen = list(out.get(inp, ()))
        for o in outputs:
            if o not in seen:
                seen.append(o)
        out[inp] = tuple(seen)

    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        sides = _SPLIT_ARROW.split(line)
        if len(sides) > 2:
            raise ValueError(f"more than one => in synonym line: {raw!r}")
        if len(sides) == 2:
            inputs = [
                _analyze_one(_unescape(e), analyzer)
                for e in _SPLIT_COMMA.split(sides[0]) if e.strip()
            ]
            outputs = [
                _analyze_one(_unescape(e), analyzer)
                for e in _SPLIT_COMMA.split(sides[1]) if e.strip()
            ]
            for i in inputs:
                add(i, outputs)
        else:
            group = [
                _analyze_one(_unescape(e), analyzer)
                for e in _SPLIT_COMMA.split(line) if e.strip()
            ]
            if expand:
                for i in group:
                    add(i, group)
            else:
                for i in group:
                    add(i, group[:1])
    return out


def _expand_term(term: str, syn_map: dict):
    """The output term list for one analyzed term: the mapped outputs, or
    the term itself when unmapped (SynonymFilter passes unmatched tokens
    through)."""
    return list(syn_map.get(term, (term,)))


def expand_query(q: Query, syn_map: dict) -> Query:
    """Rewrite a parsed query with query-time synonyms:
    TermQuery -> OR of the output terms (QueryBuilder BOOLEAN shape);
    PhraseQuery -> MultiPhraseQuery when any position expands
    (QueryBuilder MUST_PHRASE shape); boolean structure recurses; every
    other leaf passes through untouched (multi-term queries operate on
    the terms dictionary, not the token stream)."""
    if isinstance(q, TermQuery):
        outs = _expand_term(q.term, syn_map)
        if len(outs) == 1:
            return TermQuery(term=outs[0], field=q.field, boost=q.boost)
        return BooleanQuery(
            should=tuple(
                TermQuery(term=t, field=q.field) for t in outs
            ),
            boost=q.boost,
        )
    if isinstance(q, PhraseQuery):
        arrays = tuple(
            tuple(_expand_term(t, syn_map)) for t in q.terms
        )
        if all(len(a) == 1 for a in arrays):
            return PhraseQuery(
                terms=tuple(a[0] for a in arrays),
                positions=q.positions, slop=q.slop, field=q.field,
                boost=q.boost,
            )
        return MultiPhraseQuery(
            term_arrays=arrays, positions=q.positions, slop=q.slop,
            field=q.field, boost=q.boost,
        )
    if isinstance(q, MultiPhraseQuery):
        arrays = tuple(
            tuple(
                dict.fromkeys(
                    t for term in arr for t in _expand_term(term, syn_map)
                )
            )
            for arr in q.term_arrays
        )
        return MultiPhraseQuery(
            term_arrays=arrays, positions=q.positions, slop=q.slop,
            field=q.field, boost=q.boost,
        )
    if isinstance(q, BooleanQuery):
        return simplify(
            BooleanQuery(
                must=tuple(expand_query(c, syn_map) for c in q.must),
                should=tuple(expand_query(c, syn_map) for c in q.should),
                must_not=tuple(
                    expand_query(c, syn_map) for c in q.must_not
                ),
                min_should_match=q.min_should_match,
                boost=q.boost,
            )
        )
    return q
