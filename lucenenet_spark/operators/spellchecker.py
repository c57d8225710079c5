"""Classic SpellChecker + the StringDistance family
(Lucene.Net.Suggest/Spell/SpellChecker.cs, LevensteinDistance.cs,
LuceneLevenshteinDistance.cs, JaroWinklerDistance.cs, NGramDistance.cs).

SuggestSimilar: candidates come from the word's n-grams (gram sizes
GetMin..GetMax by word length); each candidate scores
distance(word, candidate) in f32, must clear `accuracy`, must exist in
the user index (freq >= 1; MORE_POPULAR additionally requires
freq > goalFreq), and the top numSug rank by the SuggestWordScoreComparer
total order (score desc, freq desc, string asc). WHEN_NOT_IN_INDEX with
the word present short-circuits to [word].

Divergence (documented): the reference collects candidates as the top
10*numSug hits of a BOOSTED ngram TF-IDF query over its spell index;
here the pool is EVERY term sharing >= 1 ngram (a superset — identical
results whenever the sharing set fits the reference's 10*numSug window,
which holds for realistic vocab slices; the ranking-only start/end
boosts don't change the superset).

Distances are step-for-step f32 ports:
  * LevensteinDistance: 1 - lev/max(|a|,|b|)
  * LuceneLevenshteinDistance: 1 - osa/min(|a|,|b|) over code points,
    with the reference's empty-input quirk (returns max(n, m) RAW)
  * JaroWinklerDistance: match-window scan, transpositions/2, the
    threshold switch, uncapped Winkler prefix bonus
  * NGramDistance: padded n-gram DP with per-gram fractional costs
"""
from __future__ import annotations

import numpy as np

MODE_WHEN_NOT_IN_INDEX = "SUGGEST_WHEN_NOT_IN_INDEX"
MODE_MORE_POPULAR = "SUGGEST_MORE_POPULAR"
MODE_ALWAYS = "SUGGEST_ALWAYS"

f32 = np.float32


def _lev(a: str, b: str) -> int:
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


def levenstein_distance(a: str, b: str) -> np.float32:
    """LevensteinDistance.cs: 1 - lev/max (1.0 for two empties)."""
    if not a and not b:
        return f32(1.0)
    return f32(1.0) - f32(f32(_lev(a, b)) / f32(max(len(a), len(b))))


def _osa(a: str, b: str) -> int:
    """Optimal string alignment (the reference's transposition DP)."""
    n, m = len(a), len(b)
    d = [[0] * (m + 1) for _ in range(n + 1)]
    for i in range(n + 1):
        d[i][0] = i
    for j in range(m + 1):
        d[0][j] = j
    for j in range(1, m + 1):
        for i in range(1, n + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1,
                          d[i - 1][j - 1] + cost)
            if (i > 1 and j > 1 and a[i - 1] == b[j - 2]
                    and a[i - 2] == b[j - 1]):
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + cost)
    return d[n][m]


def lucene_levenshtein_distance(target: str, other: str) -> np.float32:
    """LuceneLevenshteinDistance.cs (code points; empty-input quirk)."""
    n, m = len(target), len(other)
    if n == 0 or m == 0:
        return f32(0.0) if n == m else f32(max(n, m))
    return f32(1.0) - f32(f32(_osa(target, other)) / f32(min(m, n)))


def jaro_winkler_distance(
    s1: str, s2: str, threshold: float = 0.7
) -> np.float32:
    """JaroWinklerDistance.cs GetDistance + Matches."""
    if len(s1) > len(s2):
        mx, mn = s1, s2
    else:
        mx, mn = s2, s1
    rng = max(len(mx) // 2 - 1, 0)
    match_indexes = [-1] * len(mn)
    match_flags = [False] * len(mx)
    matches = 0
    for mi, c1 in enumerate(mn):
        for xi in range(max(mi - rng, 0), min(mi + rng + 1, len(mx))):
            if not match_flags[xi] and c1 == mx[xi]:
                match_indexes[mi] = xi
                match_flags[xi] = True
                matches += 1
                break
    ms1 = [mn[i] for i in range(len(mn)) if match_indexes[i] != -1]
    ms2 = [mx[i] for i in range(len(mx)) if match_flags[i]]
    transpositions = sum(1 for a, b in zip(ms1, ms2) if a != b) // 2
    prefix = 0
    for mi in range(len(mn)):
        if s1[mi] == s2[mi]:
            prefix += 1
        else:
            break
    if matches == 0:
        return f32(0.0)
    m = f32(matches)
    j = f32(
        f32(
            f32(f32(m / f32(len(s1))) + f32(m / f32(len(s2))))
            + f32(f32(m - f32(transpositions)) / m)
        )
        / f32(3)
    )
    if j < f32(threshold):
        return j
    bonus = f32(
        f32(
            f32(min(f32(0.1), f32(f32(1.0) / f32(len(mx))))) * f32(prefix)
        )
        * f32(f32(1.0) - j)
    )
    return f32(j + bonus)


def ngram_distance(source: str, target: str, n: int = 2) -> np.float32:
    """NGramDistance.cs GetDistance: padded n-gram DP."""
    sl, tl = len(source), len(target)
    if sl == 0 or tl == 0:
        return f32(1.0) if sl == tl else f32(0.0)
    if sl < n or tl < n:
        cost = sum(
            1 for i in range(min(sl, tl)) if source[i] == target[i]
        )
        return f32(f32(cost) / f32(max(sl, tl)))
    sa = "\0" * (n - 1) + source
    p = np.arange(sl + 1, dtype=np.float32)
    d = np.zeros(sl + 1, dtype=np.float32)
    for j in range(1, tl + 1):
        if j < n:
            t_j = "\0" * (n - j) + target[:j]
        else:
            t_j = target[j - n : j]
        d[0] = f32(j)
        for i in range(1, sl + 1):
            cost = 0
            tn = n
            for ni in range(n):
                if sa[i - 1 + ni] != t_j[ni]:
                    cost += 1
                elif sa[i - 1 + ni] == "\0":
                    tn -= 1
            ec = f32(f32(cost) / f32(tn))
            d[i] = min(f32(d[i - 1] + f32(1)), f32(p[i] + f32(1)),
                       f32(p[i - 1] + ec))
        p, d = d, p
    return f32(1.0) - f32(p[sl] / f32(max(tl, sl)))


DISTANCES = {
    "levenstein": levenstein_distance,
    "lucene_levenshtein": lucene_levenshtein_distance,
    "jaro_winkler": jaro_winkler_distance,
    "ngram": ngram_distance,
}


def _get_min(length: int) -> int:
    return 3 if length > 5 else (2 if length == 5 else 1)


def _get_max(length: int) -> int:
    return 4 if length > 5 else (3 if length == 5 else 2)


def _grams(word: str, ng: int) -> list[str]:
    return [word[i : i + ng] for i in range(len(word) - ng + 1)]


def suggest_similar_scored(
    searcher,
    word: str,
    num_sug: int,
    field: str = "text",
    suggest_mode: str = MODE_WHEN_NOT_IN_INDEX,
    accuracy: float = 0.5,
    distance: str = "levenstein",
) -> list[tuple[str, np.float32, int]]:
    """[(suggestion, score, freq)] best-first."""
    dist = DISTANCES[distance]
    freq = searcher.doc_freqs([(field, word)])[(field, word)]
    goal_freq = freq if suggest_mode == MODE_MORE_POPULAR else 0
    if suggest_mode == MODE_WHEN_NOT_IN_INDEX and freq > 0:
        return [(word, f32(1.0), freq)]
    grams = [
        g
        for ng in range(_get_min(len(word)), _get_max(len(word)) + 1)
        for g in _grams(word, ng)
    ]
    if not grams:
        return []
    acc = f32(accuracy)
    out: list[tuple[np.float32, int, str]] = []
    for cand, cfreq in searcher.terms(field):
        if cand == word or not any(g in cand for g in grams):
            continue
        score = dist(word, cand)
        if score < acc:
            continue
        if (suggest_mode == MODE_MORE_POPULAR and goal_freq > cfreq) \
                or cfreq < 1:
            continue
        out.append((score, cfreq, cand))
    # SuggestWordScoreComparer total order: score desc, freq desc, str asc
    out.sort(key=lambda t: (-float(t[0]), -t[1], t[2]))
    return [(c, s, fr) for s, fr, c in out[:num_sug]]


def suggest_similar(searcher, word: str, num_sug: int, **kw) -> list[str]:
    """The reference's string[] contract."""
    return [w for w, _s, _f in
            suggest_similar_scored(searcher, word, num_sug, **kw)]
