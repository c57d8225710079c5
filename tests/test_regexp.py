"""Lucene regexp syntax (Util/Automaton/RegExp.cs, flags ALL) vs Java
regex: the grammar differences must translate or raise loudly — passing
the pattern through to rlike silently mis-matches (`\\d` means literal
'd' in Lucene, `^`/`$` are literals, `~`/`&`/`<n-m>` are automaton ops).
"""
import pytest

from lucenenet_spark.functions.regexp import (
    UnsupportedRegexp,
    lucene_regexp_to_java,
)
from lucenenet_spark.plans.query import RegexpQuery

from .conftest import hits


# -- translation unit fixtures -------------------------------------------------


@pytest.mark.parametrize(
    "lucene,java",
    [
        ("ab+c", "ab+c"),
        ("sc[ae]n", "sc[ae]n"),
        ("a|bc*", "a|bc*"),
        ("a{2,3}b", "a{2,3}b"),
        ("(ab)?c", "(?:ab)?c"),
        # \d is the LITERAL d (charexp), never the Java digit class
        ("word\\d", "wordd"),
        # ^ and $ are ordinary characters in the automaton grammar
        ("a^b", "a\\^b"),
        ("a$b", "a\\$b"),
        # quoted literal: every inner char is literal
        ('"a.b"c', "(?:a\\.b)c"),
        # any-string and empty-language
        ("a@", "a(?:.*)"),
        ("a#b", "a(?!x)xb"),
        # empty group = empty string
        ("a()b", "a(?:)b"),
        # escaped punctuation survives escaped
        ("a\\.b", "a\\.b"),
        ("a\\*b", "a\\*b"),
    ],
)
def test_translate(lucene, java):
    assert lucene_regexp_to_java(lucene) == java


@pytest.mark.parametrize(
    "pattern",
    [
        # embedded complement/intersection: no decomposition exists
        # (Lucene's ~ binds ONE atom, so ~ab means (~a)b)
        "~ab", "a~b", "x(a&b)y", "(~(ab))*", "(~(ab)){2}",
        # named automata need an IAutomatonProvider
        "word<named>",
    ],
)
def test_unsupported_raise_loudly(pattern):
    from lucenenet_spark.functions.regexp import lucene_regexp_to_tree

    with pytest.raises(UnsupportedRegexp):
        lucene_regexp_to_tree(pattern)


def test_whole_term_boolean_tree():
    """Top-level ~(...) and & decompose exactly into whole-term boolean
    structure (RegexpQuery anchors the automaton on the term)."""
    from lucenenet_spark.functions.regexp import (
        lucene_regexp_to_tree,
        tree_matches,
    )

    t = lucene_regexp_to_tree("a.*&~(abc)|xyz")
    assert [tree_matches(t, w) for w in ("abc", "abd", "xyz", "zz")] == [
        False, True, True, False,
    ]
    t2 = lucene_regexp_to_tree("~(~(ab))")  # double complement
    assert tree_matches(t2, "ab") and not tree_matches(t2, "cd")
    # the single-pattern API still refuses boolean structure
    with pytest.raises(UnsupportedRegexp):
        lucene_regexp_to_java("ab&cd")


@pytest.mark.parametrize("pattern", ["a{b", "a{2", "(ab", 'a"bc'])
def test_malformed_raise(pattern):
    with pytest.raises(ValueError):
        lucene_regexp_to_java(pattern)


# -- engine behavior -------------------------------------------------------------


def _matched_terms(searcher, pattern):
    return {t for _f, t in searcher._expand(RegexpQuery(pattern=pattern)).terms}


def test_digit_class_is_literal(searcher, oracle_index):
    """Divergence fixture: 'word\\d' under Java matches word0..word9; under
    Lucene it matches only the term 'wordd' (absent) — so zero hits, while
    the corpus does carry digit-suffixed word terms."""
    digit_terms = {
        t for t in oracle_index.postings if t.startswith("word") and t[4:].isdigit()
    }
    assert digit_terms  # the trap exists in the corpus
    assert _matched_terms(searcher, "word\\d") == set()
    assert hits(searcher.search(RegexpQuery(pattern="word\\d"), 5)) == []


def test_interval_matches_numeric_terms(searcher, oracle_index):
    """<n-m> compiles to the MakeInterval language: unequal-width bounds
    allow leading zeros; equal-width bounds demand exactly that width."""
    # unequal widths (1 vs 2): leading zeros allowed, value in [1, 19]
    got = _matched_terms(searcher, "word<1-19>")
    want = {
        t for t in oracle_index.postings
        if t.startswith("word") and t[4:].isdigit() and 1 <= int(t[4:]) <= 19
    }
    assert got == want and want
    # equal widths: exactly 2 digits, so word7 is excluded, word17 matches
    got2 = _matched_terms(searcher, "word<10-29>")
    want2 = {
        t for t in oracle_index.postings
        if t.startswith("word") and len(t) == 6 and t[4:].isdigit()
        and 10 <= int(t[4:]) <= 29
    }
    assert got2 == want2 and want2
    assert not any(len(t) == 5 for t in got2)


def test_complement_and_intersection_search(searcher, oracle_index):
    """word.*&~(word7) through the engine: every word* term except the
    exact term word7 (substrings like word71 still match)."""
    want_terms = {
        t for t in oracle_index.postings
        if t.startswith("word") and t != "word7"
    }
    got = _matched_terms(searcher, "word.*&~(word7)")
    assert got == want_terms and "word7" not in got
    want_docs = {d for t in want_terms for d, _ in oracle_index.postings[t]}
    assert searcher.count(RegexpQuery(pattern="word.*&~(word7)")) == len(
        want_docs
    )


def test_interval_search_count(searcher, oracle_index):
    want = {
        d
        for t, pl in oracle_index.postings.items()
        if t.startswith("word") and t[4:].isdigit() and 1 <= int(t[4:]) <= 19
        for d, _ in pl
    }
    assert searcher.count(RegexpQuery(pattern="word<1-19>")) == len(want)


def test_quoted_and_class_match(searcher, oracle_index):
    want = {
        t
        for t in oracle_index.postings
        if len(t) == 5 and t.startswith("word") and t[4] in "0123456789"
    }
    got = _matched_terms(searcher, '"word"[0123456789]')
    assert got == want and got


def test_interval_regex_brute_force():
    """_interval_regex vs the MakeInterval language definition, sampled
    across widths, with padded/overlong/non-digit probes."""
    import random
    import re as _re

    from lucenenet_spark.functions.regexp import _interval_regex

    rng = random.Random(7)
    cases = [(0, 5, 1), (5, 100, 0), (1, 9, 1), (10, 99, 2), (0, 0, 1),
             (7, 7, 1), (99, 1001, 0), (115, 117, 3), (0, 999, 0),
             (25, 357, 0), (90, 210, 0), (1, 100000, 0)]
    for _ in range(20):
        a, b = sorted((rng.randint(0, 3000), rng.randint(0, 3000)))
        cases.append((a, b, len(str(a)) if len(str(a)) == len(str(b)) else 0))

    def expected(s, imin, imax, digits):
        if not s or not s.isdigit():
            return False
        if digits > 0:
            return len(s) == digits and imin <= int(s) <= imax
        return imin <= int(s) <= imax

    for imin, imax, digits in cases:
        pat = _re.compile("^(?:" + _interval_regex(imin, imax, digits) + ")$")
        probes = {"", "x", "1x"}
        for v in list(range(0, 130)) + [imin - 1, imin, imin + 1,
                                        imax - 1, imax, imax + 1,
                                        (imin + imax) // 2]:
            if v < 0:
                continue
            probes |= {str(v), str(v).zfill(3), "0" + str(v)}
            if digits:
                probes.add(str(v).zfill(digits))
        for s in probes:
            assert bool(pat.match(s)) == expected(s, imin, imax, digits), (
                (imin, imax, digits), s
            )


# -- the engine's Python evaluation vs Java regex --------------------------------

ENGINE_PATTERNS = [
    "word\\d", "word<1-19>", "word<10-29>", "word.*&~(word7)", '"word"[0123456789]',
    # the gate patterns
    "sc?n", '"sc"[ae]n|filt.r{1,2}',
    # the translation fixtures above, as patterns over the test vocabulary
    "ab+c", "sc[ae]n", "a|bc*", "a{2,3}b", "(ab)?c", "a^b", "a$b", '"a.b"c',
    "a@", "a#b", "a()b", "a\\.b", "a\\*b", "a.*&~(abc)|xyz", "~(~(ab))",
    # broad ones, so the sets compared are large
    "w.*", "[a-m]+", "~(.*o.*)", ".*[0-9]{2}", "(co|wo).*&~(.*[13579])",
]
WILDCARD_PATTERNS = ["wor?7*", "*corn", "w*d?", "*", "c*n*3", "a.b*", "pop$?*"]


def _java_rlike(node):
    """The Spark condition the engine evaluated a regexp tree with before
    it expanded on the driver: each pattern node an anchored rlike."""
    from functools import reduce

    from pyspark.sql import functions as F

    if isinstance(node, str):
        return F.col("term").rlike("^(?:" + node + ")$")
    if node[0] == "not":
        return ~_java_rlike(node[1])
    parts = [_java_rlike(t) for t in node[1]]
    return reduce((lambda a, b: a & b) if node[0] == "and" else (lambda a, b: a | b), parts)


def _java_wildcard(pattern):
    from pyspark.sql import functions as F

    rx = "^" + "".join(
        ".*" if ch == "*" else "." if ch == "?" else "\\" + ch if ch in ".^$+{}[]()|\\" else ch
        for ch in pattern
    ) + "$"
    return F.col("term").rlike(rx)


def test_expansion_matches_java_regex(searcher):
    """Over the test index's whole text vocabulary, the driver's expansion
    of every regexp and wildcard pattern above is the term set Spark's
    Java regex (rlike) selects."""
    from pyspark.sql import functions as F

    from lucenenet_spark.functions.regexp import lucene_regexp_to_tree
    from lucenenet_spark.plans.query import WildcardQuery

    qs = [RegexpQuery(pattern=p) for p in ENGINE_PATTERNS] + [
        WildcardQuery(pattern=p) for p in WILDCARD_PATTERNS
    ]
    conds = [
        _java_rlike(lucene_regexp_to_tree(q.pattern)) if isinstance(q, RegexpQuery)
        else _java_wildcard(q.pattern)
        for q in qs
    ]
    rows = (
        searcher.term_stats().filter(F.col("field") == "text")
        .select("term", *[c.alias(f"m{i}") for i, c in enumerate(conds)])
        .collect()
    )
    assert len(rows) > 1000
    sizes = []
    for i, q in enumerate(qs):
        want = {r["term"] for r in rows if r[f"m{i}"]}
        got = {t for _f, t in searcher._expand(q).terms}
        assert got == want, (q, sorted(got ^ want)[:10])
        sizes.append(len(want))
    assert sum(s > 100 for s in sizes) >= 4, sizes
