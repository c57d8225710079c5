"""Highlighting + suggest/spellcheck satellites.

Highlighter (re-derivation of Lucene.Net.Highlighter's Highlighter +
SimpleFragmenter + QueryScorer capability, Spark-first): top-k hits are
fetched, each hit's text is re-analyzed (exactly like Lucene's
Highlighter.GetBestFragment re-runs the analyzer over the stored field),
and the best window of `frag_tokens` RAW tokens (lowercased, stopwords
kept for readability — they can never match, matching happens post-
analysis) is selected by (most query-term matches, earliest start). The
snippet is the token slice joined by spaces with matched terms wrapped in
pre/post markers. Defined over the token stream rather than raw char
offsets so the DuckDB oracle can reproduce it exactly.

Suggest / spellcheck (Lucene.Net.Suggest + DirectSpellChecker capability):
- suggest_terms: prefix completion from the terms dictionary ordered by
  document frequency (AnalyzingSuggester's weight-ordered completion,
  with df as the weight).
- spell_suggest: candidate corrections within max_edits Damerau-
  Levenshtein (transpositions count one edit, matching DirectSpellChecker's
  4.8 default distance, DirectSpellChecker.cs LuceneLevenshteinDistance),
  ordered (edits asc, df desc, term asc) — the score-then-frequency
  ordering.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.analysis import (
    MAX_TOKEN_LENGTH,
    TOKEN_PATTERN_RE2_SQL,
    _TOKEN_RE,
)
from ..plans.query import Query


def _raw_tokens(text: str) -> list[str]:
    """Lowercased length-filtered tokens INCLUDING stopwords — the same
    position space the index uses (every slot kept)."""
    if not text:
        return []
    return [
        t.lower() for t in _TOKEN_RE.findall(text) if len(t) <= MAX_TOKEN_LENGTH
    ]


def best_window(tokens: list[str], terms: set[str], width: int) -> tuple[int, int]:
    """(start, n_matches) of the best width-token window: most matches,
    earliest start. Start ranges over every token index (clamped)."""
    n = len(tokens)
    if n == 0:
        return 0, 0
    is_match = [1 if t in terms else 0 for t in tokens]
    best_s, best_c = 0, -1
    lim = max(1, n - width + 1)
    run = sum(is_match[0:width])
    for s in range(lim):
        if s > 0:
            run += (is_match[s + width - 1] if s + width - 1 < n else 0) - is_match[s - 1]
        if run > best_c:
            best_s, best_c = s, run
    return best_s, best_c


def highlight_hits(
    hits_with_text: DataFrame,
    query_terms: list[str],
    frag_tokens: int = 16,
    pre: str = "<b>",
    post: str = "</b>",
    analyzer: str = "standard",
) -> DataFrame:
    """(docid, score, n_matches, snippet) for each hit row carrying `text`.

    Runs per fetched hit (k rows), not per corpus row — the Highlighter
    re-analysis cost is bounded by k like Lucene's. On a stemmed index
    (analyzer="english") matching runs on the STEMMED form of each raw
    token while the snippet shows the surface form — exactly how Lucene's
    Highlighter marks "merging" for the query term "merg"."""
    terms = set(query_terms)
    from ..functions.analysis import stem_filter

    _match_key = stem_filter(analyzer) or (lambda t: t)

    def frag(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                toks = _raw_tokens(r.text)
                keys = [_match_key(t) for t in toks]
                s, c = best_window(keys, terms, frag_tokens)
                window = list(zip(toks, keys))[s : s + frag_tokens]
                snippet = " ".join(
                    pre + t + post if k in terms else t for t, k in window
                )
                rows.append((int(r.docid), float(r.score), int(c), snippet))
            yield pd.DataFrame(
                rows, columns=["docid", "score", "n_matches", "snippet"]
            ) if rows else pd.DataFrame(
                {
                    "docid": pd.Series(dtype="int64"),
                    "score": pd.Series(dtype="float32"),
                    "n_matches": pd.Series(dtype="int64"),
                    "snippet": pd.Series(dtype="object"),
                }
            )

    return hits_with_text.select("docid", "score", "text").mapInPandas(
        frag, "docid long, score float, n_matches long, snippet string"
    )


def highlight(
    searcher, q: Query, query_terms: list[str], source: DataFrame,
    k: int = 10, **kw,
) -> DataFrame:
    """Search + stored-field fetch + highlight in one call.

    `source` is the original transcript table carrying `text` (the index's
    docs view stores only typed metadata; text bodies live in the source —
    SURVEY §1.1's stored-fields-as-join design). The k hits broadcast into
    the source join, so the big table is probed, never shuffled."""
    hits = searcher.search(q, k)
    keyed = searcher.fetch(hits, hits_bound=k).select(
        "docid", "score", "conv_id", "turn_idx"
    )
    withtext = source.select("conv_id", "turn_idx", "text").join(
        F.broadcast(keyed), ["conv_id", "turn_idx"]
    )
    return highlight_hits(
        withtext, query_terms,
        analyzer=getattr(searcher, "analyzer", "standard"), **kw,
    )


def highlight_sql(
    term: str, k: int = 10, frag_tokens: int = 16,
    pre: str = "<b>", post: str = "</b>",
) -> str:
    """DuckDB oracle for highlight() over a single-term query: the same
    raw-token window selection and marking, computed relationally from the
    scored top-k (prelude's `scored` CTE supplies the hits)."""
    raw = (
        f"list_filter(list_transform(regexp_extract_all(COALESCE(d.text, ''), "
        f"'{TOKEN_PATTERN_RE2_SQL}'), t -> lower(t)), t -> length(t) <= {MAX_TOKEN_LENGTH})"
    )
    return f"""topk AS (
  SELECT docid, s AS score FROM scored WHERE term = '{term}'
  ORDER BY s DESC, docid ASC LIMIT {k}
),
hl_toks AS (
  SELECT t.docid, t.score, {raw} AS raw
  FROM topk t JOIN docs d ON t.docid = d.docid
),
wins AS (
  SELECT docid, score, raw, s,
         len(list_filter(raw[s : s + {frag_tokens} - 1], x -> x = '{term}')) AS c
  FROM hl_toks,
       LATERAL (SELECT unnest(generate_series(1, greatest(1, len(raw) - {frag_tokens} + 1))) AS s)
),
best AS (
  SELECT docid, score, raw, s, c
  FROM (SELECT *, row_number() OVER (PARTITION BY docid ORDER BY c DESC, s ASC) AS rk FROM wins)
  WHERE rk = 1
)
SELECT docid, CAST(score AS REAL) AS score, CAST(c AS BIGINT) AS n_matches,
       array_to_string(
         list_transform(raw[s : s + {frag_tokens} - 1],
                        x -> CASE WHEN x = '{term}' THEN '{pre}' || x || '{post}' ELSE x END),
         ' ') AS snippet
FROM best"""


# ---------------------------------------------------------------------------
# Offset-based highlighting (PostingsHighlighter capability)
# ---------------------------------------------------------------------------


def highlight_offsets(
    searcher, q: Query, query_terms: list[str], source: DataFrame,
    k: int = 10, frag_chars: int = 160, lead: int = 40,
    pre: str = "<b>", post: str = "</b>",
) -> DataFrame:
    """Char-offset fragments from INDEXED offsets — no re-analysis
    (Lucene.Net.Highlighter/PostingsHighlight/PostingsHighlighter.cs reads
    the DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS postings the same way).

    Deterministic fragment contract (reproduced exactly by
    highlight_offsets_sql): window = [ws, ws+frag_chars) chars with
    ws = max(0, first_occurrence_start - lead); occurrences of the query
    terms lying fully inside the window are wrapped pre..post at their
    exact char offsets; a hit with no occurrence gets the document head.
    (Divergence note: PostingsHighlighter scores sentence-broken passages
    by BM25; this fragmenter is first-match-anchored so the oracle can
    verify the offsets machinery end to end.)

    Plan shape: only blocks whose [first_docid, last_docid] range covers a
    top-k docid are decoded (metadata filter over k literals — the
    offsets analogue of Advance), so a hot term's full posting list is
    never read."""
    if any(
        s["manifest"].get("index_options") != "docs_freqs_positions_offsets"
        for s in searcher.segments
    ):
        raise NotImplementedError(
            "offset highlighting needs index_options="
            "'docs_freqs_positions_offsets'"
        )
    hits = searcher.search(q, k).collect()  # k rows
    if not hits:
        return searcher.spark.createDataFrame(
            [], "docid long, score float, n_matches long, snippet string"
        )
    hitset = {int(r["docid"]) for r in hits}
    blocks = searcher._blocks_for(query_terms)
    glo = F.col("first_docid") + F.col("docbase")
    ghi = F.col("last_docid") + F.col("docbase")
    cond = None
    for d in sorted(hitset):
        c = (glo <= d) & (ghi >= d)
        cond = c if cond is None else cond | c
    blocks = blocks.filter(cond)

    def extract(it):
        import numpy as np

        from .codec import decode_frame

        ids = np.array(sorted(hitset), dtype=np.int64)
        for pdf in it:
            f = decode_frame(pdf)
            sel = np.repeat(np.isin(f.docids, ids), f.tfs)
            yield pd.DataFrame({
                "docid": np.repeat(f.docids, f.tfs)[sel],
                "s": f.off_start[sel],
                "e": f.off_end[sel],
            })

    occ = blocks.select(
        "first_docid", "count", "docids_enc", "tfs_enc", "off_enc", "docbase"
    ).mapInPandas(extract, "docid long, s long, e long")
    gathered = occ.groupBy("docid").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("occs")
    )
    from .index_build import local_table

    hit_df = local_table(
        searcher.spark,
        [(int(r["docid"]), float(r["score"])) for r in hits],
        "docid long, score float",
    )
    keyed = searcher.fetch(hit_df, hits_bound=k).select(
        "docid", "score", "conv_id", "turn_idx"
    )
    withtext = (
        source.select("conv_id", "turn_idx", "text")
        .join(F.broadcast(keyed), ["conv_id", "turn_idx"])
        .join(F.broadcast(gathered), "docid", "left")
    )

    def frag(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                text = r.text or ""
                olist = r.occs if r.occs is not None and len(r.occs) else []
                occs = [(int(o["s"]), int(o["e"])) for o in olist]
                ws = max(0, (occs[0][0] - lead) if occs else 0)
                we = ws + frag_chars
                inwin = [(s, e) for s, e in occs if s >= ws and e <= we]
                parts, cur = [], ws
                for s, e in inwin:
                    parts.append(text[cur:s])
                    parts.append(pre + text[s:e] + post)
                    cur = e
                parts.append(text[cur:we])
                rows.append(
                    (int(r.docid), float(r.score), len(inwin), "".join(parts))
                )
            yield pd.DataFrame(
                rows, columns=["docid", "score", "n_matches", "snippet"]
            ) if rows else pd.DataFrame(
                {
                    "docid": pd.Series(dtype="int64"),
                    "score": pd.Series(dtype="float32"),
                    "n_matches": pd.Series(dtype="int64"),
                    "snippet": pd.Series(dtype="object"),
                }
            )

    return withtext.select("docid", "score", "text", "occs").mapInPandas(
        frag, "docid long, score float, n_matches long, snippet string"
    )


def highlight_offsets_sql(
    term: str, k: int = 10, frag_chars: int = 160, lead: int = 40,
    pre: str = "<b>", post: str = "</b>",
) -> str:
    """DuckDB oracle for highlight_offsets over a single-term query: token
    char offsets are recomputed relationally — regexp_split_to_array gives
    the inter-token gaps, so start(tok_i) = cum(len(gaps) thru i) +
    cum(len(toks) before i); the fragment is rebuilt segment-by-segment
    with string_agg at those offsets."""
    from ..functions.analysis import TOKEN_PATTERN_RE2_SQL

    return f"""topk AS (
  SELECT docid, s AS score FROM scored WHERE term = '{term}'
  ORDER BY s DESC, docid ASC LIMIT {k}
),
rawm AS (
  SELECT d.docid, d.text,
         regexp_extract_all(COALESCE(d.text, ''), '{TOKEN_PATTERN_RE2_SQL}') AS tks,
         regexp_split_to_array(COALESCE(d.text, ''), '{TOKEN_PATTERN_RE2_SQL}') AS gaps
  FROM docs d JOIN topk USING (docid)
),
tokoff AS (
  SELECT docid, lower(tok) AS t,
         sum(length(gaps[i])) OVER w
           + sum(length(tok)) OVER w - length(tok) AS s,
         sum(length(gaps[i])) OVER w + sum(length(tok)) OVER w AS e
  FROM (
    SELECT docid, gaps, unnest(tks) AS tok,
           unnest(generate_series(1, len(tks))) AS i
    FROM rawm
  )
  WINDOW w AS (PARTITION BY docid ORDER BY i ROWS UNBOUNDED PRECEDING)
),
occ AS (SELECT docid, s, e FROM tokoff WHERE t = '{term}'),
win AS (
  SELECT h.docid, h.score,
         greatest(COALESCE(min(o.s), {lead}) - {lead}, 0) AS ws
  FROM topk h LEFT JOIN occ o USING (docid)
  GROUP BY h.docid, h.score
),
inwin AS (
  SELECT w.docid, o.s, o.e,
         row_number() OVER (PARTITION BY w.docid ORDER BY o.s) AS i,
         lag(o.e) OVER (PARTITION BY w.docid ORDER BY o.s) AS pe,
         w.ws
  FROM win w JOIN occ o USING (docid)
  WHERE o.s >= w.ws AND o.e <= w.ws + {frag_chars}
),
segs AS (
  SELECT i.docid, i.i, i.e,
         substring(r.text, CAST(COALESCE(i.pe, i.ws) AS INT) + 1,
                   CAST(i.s - COALESCE(i.pe, i.ws) AS INT))
           || '{pre}' || substring(r.text, CAST(i.s AS INT) + 1,
                                   CAST(i.e - i.s AS INT)) || '{post}' AS seg
  FROM inwin i JOIN rawm r ON i.docid = r.docid
),
agg AS (
  SELECT docid, string_agg(seg, '' ORDER BY i) AS marked,
         max(e) AS last_e, count(*) AS n
  FROM segs GROUP BY docid
)
SELECT w.docid, CAST(w.score AS REAL) AS score,
       COALESCE(a.n, 0) AS n_matches,
       COALESCE(a.marked, '')
         || substring(r.text, CAST(COALESCE(a.last_e, w.ws) AS INT) + 1,
                      CAST(w.ws + {frag_chars} - COALESCE(a.last_e, w.ws) AS INT))
         AS snippet
FROM win w
JOIN rawm r ON w.docid = r.docid
LEFT JOIN agg a ON w.docid = a.docid"""


# ---------------------------------------------------------------------------
# Suggest / spellcheck over the terms dictionary
# ---------------------------------------------------------------------------


def suggest_terms(searcher, prefix: str, k: int = 10) -> DataFrame:
    """Prefix completion: (term, df) ordered df desc, term asc."""
    return (
        searcher.term_stats()
        .filter(F.col("field") == "text")
        .filter(F.col("term").startswith(prefix))
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
    )


def suggest_terms_sql(prefix: str, k: int = 10) -> str:
    return f"""SELECT term, CAST(df AS BIGINT) AS df FROM tstats
WHERE term LIKE '{prefix}%'
ORDER BY df DESC, term ASC LIMIT {k}"""


def spell_suggest(searcher, word: str, max_edits: int = 2, k: int = 5) -> DataFrame:
    """Corrections within max_edits Damerau-Levenshtein, ordered
    (edits asc, df desc, term asc) — DirectSpellChecker's score-then-
    frequency ordering with its transposition-aware distance; the length
    band prunes the terms-dict scan exactly like the fuzzy rewrite."""
    lo, hi = len(word) - max_edits, len(word) + max_edits
    banded = (
        searcher.term_stats()
        .filter(F.col("field") == "text")
        .filter(F.length("term").between(lo, hi))
    )
    return (
        _with_dl_edits(banded, word)
        .filter((F.col("edits") <= max_edits) & (F.col("edits") > 0))
        .select("term", "edits", F.col("df").cast("long").alias("df"))
        .orderBy(F.asc("edits"), F.desc("df"), F.asc("term"))
        .limit(k)
    )


def _with_dl_edits(terms_df: DataFrame, query: str) -> DataFrame:
    """terms_df(term) -> + edits column: DL distance to `query`, computed in
    an Arrow-batched pandas UDF over the (length-banded) vocab slice."""
    from pyspark.sql.functions import pandas_udf

    from .search import dl_distance

    @pandas_udf("int")
    def edits(s: pd.Series) -> pd.Series:
        return s.map(lambda t: dl_distance(t, query)).astype("int32")

    return terms_df.withColumn("edits", edits(F.col("term")))


def spell_suggest_sql(word: str, max_edits: int = 2, k: int = 5) -> str:
    lo, hi = len(word) - max_edits, len(word) + max_edits
    return f"""SELECT term, CAST(edits AS INT) AS edits, CAST(df AS BIGINT) AS df FROM (
  SELECT term, damerau_levenshtein(term, '{word}') AS edits, df
  FROM tstats WHERE length(term) BETWEEN {lo} AND {hi}
) WHERE edits <= {max_edits} AND edits > 0
ORDER BY edits ASC, df DESC, term ASC LIMIT {k}"""
