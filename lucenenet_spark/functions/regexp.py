"""Lucene regexp syntax -> Java regex translation.

The reference compiles RegexpQuery patterns with its own automaton grammar
(Util/Automaton/RegExp.cs, default flags ALL), which differs from Java
regex in ways that mis-match silently if the pattern is passed through:

- matching is ANCHORED (the automaton accepts the whole term) — the caller
  anchors, this module only translates;
- `^` and `$` are ordinary literal characters (not anchors);
- `\\c` always means the literal character c (`\\d` is a literal 'd', NOT
  the Java digit class);
- `"..."` quotes a literal string;
- `@` is any-string, `#` the empty language;
- `<n-m>` (numeric interval) compiles to the BasicAutomata.MakeInterval
  language as a digit-range alternation (fixed-width when both bounds
  have equal length, else leading zeros allowed);
- `~` (complement) and `&` (intersection) have no single-regex
  equivalent, but WHOLE-TERM boolean structure decomposes exactly:
  RegexpQuery anchors the automaton on the term, so at any level above
  concatenation `A&B` = (term in L(A)) AND (term in L(B)), `~A` = NOT
  (term in L(A)), `A|B` = OR. lucene_regexp_to_tree returns that boolean
  tree over plain Java patterns; a complement or intersection EMBEDDED in
  a concatenation, repetition, or quoted context cannot decompose and
  still raises loudly.

A recursive-descent walk of the RegExp.cs grammar (parseUnionExp ->
parseInterExp -> parseConcatExp -> parseRepeatExp -> parseComplExp ->
parseCharClassExp -> parseSimpleExp) emits the equivalent Java pattern.
"""
from __future__ import annotations


class UnsupportedRegexp(NotImplementedError):
    """A Lucene-automaton construct with no Java-regex equivalent."""


def _lit(c: str) -> str:
    """A literal char, escaped iff Java regex could treat it specially.

    Escaping any punctuation is always legal in Java regex; escaping an
    alphanumeric that is not a defined escape is a syntax error — so
    alphanumerics are emitted bare (which is also the Lucene meaning)."""
    return c if (c.isalnum() or c == "_") else "\\" + c


def _fixed_ge(s: str) -> str:
    """Fixed-length digit strings >= s (same length)."""
    if not s:
        return ""
    d, rest = int(s[0]), len(s) - 1
    parts = [s[0] + _fixed_ge(s[1:])]
    if d < 9:
        cls = "9" if d + 1 == 9 else f"[{d + 1}-9]"
        parts.append(cls + (f"[0-9]{{{rest}}}" if rest else ""))
    return "(?:" + "|".join(parts) + ")" if len(parts) > 1 else parts[0]


def _fixed_le(s: str) -> str:
    """Fixed-length digit strings <= s (same length)."""
    if not s:
        return ""
    d, rest = int(s[0]), len(s) - 1
    parts = [s[0] + _fixed_le(s[1:])]
    if d > 0:
        cls = "0" if d - 1 == 0 else f"[0-{d - 1}]"
        parts.append(cls + (f"[0-9]{{{rest}}}" if rest else ""))
    return "(?:" + "|".join(parts) + ")" if len(parts) > 1 else parts[0]


def _fixed_range(lo: str, hi: str) -> str:
    """Fixed-length digit strings in [lo, hi] (equal lengths)."""
    if lo == hi:
        return lo
    if lo[0] == hi[0]:
        return lo[0] + _fixed_range(lo[1:], hi[1:])
    l0, h0, rest = int(lo[0]), int(hi[0]), len(lo) - 1
    parts = [lo[0] + _fixed_ge(lo[1:])]
    if h0 - l0 >= 2:
        cls = (str(l0 + 1) if h0 - l0 == 2 else f"[{l0 + 1}-{h0 - 1}]")
        parts.append(cls + (f"[0-9]{{{rest}}}" if rest else ""))
    parts.append(hi[0] + _fixed_le(hi[1:]))
    return "(?:" + "|".join(parts) + ")"


def _interval_regex(imin: int, imax: int, digits: int) -> str:
    """BasicAutomata.MakeInterval as a Java regex: with digits > 0 the
    language is EXACTLY-digits-wide zero-padded values in [min, max];
    with digits == 0 it is any number of leading zeros followed by a
    value in [min, max] (the brics interval semantics)."""
    if digits > 0:
        lo = str(imin).zfill(digits)
        hi = str(imax).zfill(digits)
        return "(?:" + _fixed_range(lo, hi) + ")"
    parts = []
    for ln in range(len(str(imin)), len(str(imax)) + 1):
        lo_ln = 0 if ln == 1 else 10 ** (ln - 1)
        hi_ln = 10 ** ln - 1
        lo_v, hi_v = max(imin, lo_ln), min(imax, hi_ln)
        if lo_v <= hi_v:
            parts.append(_fixed_range(str(lo_v), str(hi_v)))
    return "(?:0*(?:" + "|".join(parts) + "))"


def lucene_regexp_to_tree(pattern: str):
    """Parse a Lucene RegExp.cs pattern into a whole-term boolean tree:
    a plain str node is an (unanchored) Java pattern; ("not", node),
    ("and", [nodes]) and ("or", [nodes]) decompose top-level complement /
    intersection / union exactly (RegexpQuery anchors the automaton on
    the whole term). Raises UnsupportedRegexp when `~`/`&` are embedded
    in a concatenation or repetition (no exact decomposition exists) and
    on named `<id>` automata (no provider)."""
    pos = 0
    n = len(pattern)

    def peek() -> str | None:
        return pattern[pos] if pos < n else None

    def take() -> str:
        nonlocal pos
        if pos >= n:
            raise ValueError(f"unexpected end of regexp {pattern!r}")
        c = pattern[pos]
        pos += 1
        return c

    def take_if(c: str) -> bool:
        nonlocal pos
        if pos < n and pattern[pos] == c:
            pos += 1
            return True
        return False

    # Nodes: plain str = a Java pattern; ("not", node), ("and", [nodes]),
    # ("or", [nodes]) = whole-term boolean structure (see module docstring)

    def union_exp():
        parts = [inter_exp()]
        while peek() == "|":
            take()
            parts.append(inter_exp())
        if len(parts) == 1:
            return parts[0]
        if all(isinstance(x, str) for x in parts):
            return "|".join(parts)
        return ("or", parts)

    def inter_exp():
        parts = [concat_exp()]
        while peek() == "&":
            take()
            parts.append(concat_exp())
        if len(parts) == 1:
            return parts[0]
        return ("and", parts)

    def concat_exp():
        parts = []
        while peek() not in (None, "|", ")", "&"):
            parts.append(repeat_exp())
        if len(parts) == 1:
            return parts[0]
        if any(not isinstance(x, str) for x in parts):
            raise UnsupportedRegexp(
                "Lucene regexp complement/intersection inside a "
                f"concatenation cannot decompose (pattern {pattern!r}); "
                "only whole-term boolean structure is supported"
            )
        return "".join(parts)

    def repeat_exp():
        out = compl_exp()
        while True:
            c = peek()
            if c in ("?", "*", "+"):
                if not isinstance(out, str):
                    raise UnsupportedRegexp(
                        "Lucene regexp complement under a repeat operator "
                        f"cannot decompose (pattern {pattern!r})"
                    )
                take()
                out += c
            elif c == "{":
                if not isinstance(out, str):
                    raise UnsupportedRegexp(
                        "Lucene regexp complement under a repeat operator "
                        f"cannot decompose (pattern {pattern!r})"
                    )
                take()
                digits = ""
                while peek() is not None and peek().isdigit():
                    digits += take()
                if not digits:
                    raise ValueError(
                        f"malformed repeat in regexp {pattern!r} (RegExp.cs "
                        "expects {n}, {n,} or {n,m})"
                    )
                spec = "{" + digits
                if peek() == ",":
                    take()
                    spec += ","
                    while peek() is not None and peek().isdigit():
                        spec += take()
                if take() != "}":
                    raise ValueError(f"unclosed repeat in regexp {pattern!r}")
                out += spec + "}"
            else:
                return out

    def compl_exp():
        if peek() == "~":
            take()
            return ("not", compl_exp())
        return char_class_exp()

    def char_class_exp() -> str:
        if peek() != "[":
            return simple_exp()
        take()
        out = "["
        if peek() == "^":
            take()
            out += "^"
        while True:
            c = take()
            if c == "]":
                return out + "]"
            if c == "\\":
                # Lucene: always the literal next char; Java class: bare
                # alnum is literal, escaped punctuation is literal
                out += _lit(take())
            elif c == "-":
                out += "-"
            else:
                out += _lit(c) if c not in "^" else "\\^"

    def simple_exp() -> str:
        c = take()
        if c == ".":
            return "."
        if c == "#":
            return "(?!x)x"  # the empty language: matches nothing
        if c == "@":
            return "(?:.*)"  # any string
        if c == '"':
            out = ""
            while True:
                q = take()
                if q == '"':
                    return "(?:" + out + ")"
                out += _lit(q)
        if c == "(":
            if peek() == ")":
                take()
                return "(?:)"  # the empty string
            inner = union_exp()
            if take() != ")":
                raise ValueError(f"unclosed group in regexp {pattern!r}")
            if not isinstance(inner, str):
                return inner  # parens around boolean structure
            return "(?:" + inner + ")"
        if c == "<":
            # RegExp.cs:1268 — scan to '>', split on '-'; a dash-less body
            # is a NAMED AUTOMATON lookup (<id>), which the reference also
            # rejects unless an IAutomatonProvider is supplied
            body = ""
            while peek() is not None and peek() != ">":
                body += take()
            if take_if(">") is False:
                raise ValueError(f"expected '>' in regexp {pattern!r}")
            i = body.find("-")
            if i == -1:
                raise UnsupportedRegexp(
                    f"Lucene regexp named automaton '<{body}>' needs an "
                    f"IAutomatonProvider (pattern {pattern!r}) — none exists "
                    "here, matching the reference's default"
                )
            smin, smax = body[:i], body[i + 1:]
            if (i == 0 or i == len(body) - 1 or "-" in smax
                    or not smin.isdigit() or not smax.isdigit()):
                raise ValueError(
                    f"interval syntax error in regexp {pattern!r}"
                )
            imin, imax = int(smin), int(smax)
            digits = len(smin) if len(smin) == len(smax) else 0
            if imin > imax:
                imin, imax = imax, imin
            return _interval_regex(imin, imax, digits)
        if c == "\\":
            return _lit(take())
        return _lit(c)

    out = union_exp()
    if pos != n:
        raise ValueError(f"trailing characters in regexp {pattern!r} at {pos}")
    return out


def lucene_regexp_to_java(pattern: str) -> str:
    """Single-Java-pattern translation (raises UnsupportedRegexp whenever
    the pattern needs boolean structure — use lucene_regexp_to_tree)."""
    tree = lucene_regexp_to_tree(pattern)
    if not isinstance(tree, str):
        raise UnsupportedRegexp(
            f"Lucene regexp {pattern!r} needs whole-term boolean structure "
            "(complement/intersection) — evaluate lucene_regexp_to_tree"
        )
    return tree


def tree_matches(tree, term: str) -> bool:
    """Whether `term` is in a lucene_regexp_to_tree node's language, each
    pattern node matched whole by Python `re` (the engine's RegexpQuery
    expansion and the pure-Python oracle; the translated patterns use only
    syntax Java and Python regex read alike)."""
    import re as _re

    if isinstance(tree, str):
        return _re.fullmatch("(?:" + tree + ")", term) is not None
    kind = tree[0]
    if kind == "not":
        return not tree_matches(tree[1], term)
    if kind == "and":
        return all(tree_matches(t, term) for t in tree[1])
    return any(tree_matches(t, term) for t in tree[1])
