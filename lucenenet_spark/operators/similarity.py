"""One scoring contract for every similarity: Similarity -> SimWeight ->
SimScorer, plus the queryNorm and coord hooks (Search/Similarities/
Similarity.cs:119-140).

An IndexSearcher builds one SimScorer from its `similarity` name (with `mu`
/ `lam`) and the collection stats. Every scoring path — term blocks,
booleans, DisMax, exact/sloppy phrases, spans, payload queries and
explain() — asks it for clause weights and scores a whole decoded block
(or a batch of phrase/span freqs) through `score`, so this module is the
only code that branches on the similarity family:

  bm25     BM25Similarity.cs: weight = f32(f32(idf * boost) * f32(k1 + 1))
           (:252, :330-335); score = f32(f32(w * freq) / f32(freq +
           cache[norm])) (:263), cache = k1*((1-b) + b*dl/avgdl) per norm
           byte, or k1 for omitNorms fields (:262).
  classic  DefaultSimilarity / TFIDFSimilarity.cs: idf = (float)(ln(N /
           (df+1)) + 1); queryWeight = f32(idf * boost); queryNorm =
           (float)(1/sqrt(Σ queryWeight² * topBoost²)); value =
           f32(f32(queryWeight * queryNorm) * idf) (IDFStats.Normalize);
           score = f32(f32(tf(freq) * value) * decodeNorm[norm])
           (TFIDFSimScorer.Score:687-692; omitNorms fields skip the norm);
           tf = sqrt; coord = overlap / maxOverlap (DefaultSimilarity.Coord).
  sweetspot[:<tf_base>:<tf_min>]  classic with BaselineTf swapped in
           (Lucene.Net.Misc/Misc/SweetSpotSimilarity.cs:172-180); defaults
           (0, 0) degrade it to sqrt. The plateau LengthNorm half is an
           index-time choice: the norm bytes are decoded as stored.
  lmd      LMDirichletSimilarity.cs:74-78: cp = f32(f32(ttf) + 1) /
           f32(f32(fieldTokens) + 1) (LMSimilarity:158-161); score =
           f32(boost) * f32(ln(f32(1 + f32(freq / f32(mu*cp)))) +
           ln(f32(mu / f32(docLen + mu)))), clamped at 0.
  lmjm     LMJelinekMercerSimilarity.cs:57-60: score = f32(boost) *
           f32(ln(f32(1 + f32(f32(f32((1-λ)*freq) / docLen) / f32(λ*cp))))).
  dfr_* / ib_* / "dfr:..." / "ib:..."  SimilarityBase matrix members,
           scored by simbase.block_scores.

SimilarityBase families (lmd, lmjm, DFR, IB) read docLen = 1/byte315²
(NORM_TABLE; 1 for omitNorms fields), have queryNorm = coord = 1, and fold
a boolean/DisMax boost into each clause's boost (totalBoost = queryBoost *
topLevelBoost). A weight over several leaf terms (phrase, span,
payload-near) folds their idfs into one weight under BM25 and TF-IDF
(PhraseWeight / IdfExplain over allTermStats); SimilarityBase families
keep one stats per term and sum the per-term kernels at the shared freq in
declaration order (MultiSimilarity.MultiSimScorer), f32 accumulation.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

import numpy as np

from ..functions.smallfloat import DECODE_TABLE, NORM_TABLE
from ..oracle import classic_idf, norm_cache
from ..oracle import idf as bm25_idf
from . import simbase


@dataclass(frozen=True)
class SimWeight:
    """One clause's frozen weight.

    value: BM25 idf*boost*(k1+1); TF-IDF queryWeight, then the normalized
    value once `normalize` ran; SimilarityBase families: the f32 boost.
    idf:   the BM25 / TF-IDF f32 idf fold over the leaf terms (0 elsewhere).
    query_norm: the queryNorm `normalize` applied (TF-IDF; 1 elsewhere) —
           kept beside idf and value like TFIDFSimilarity's IDFStats, so
           explain() reads its leaves from here.
    parts: SimilarityBase per-leaf-term parameters, declaration order."""

    value: np.float32
    idf: np.float32 = np.float32(0.0)
    query_norm: np.float32 = np.float32(1.0)
    parts: tuple = ()


class SimScorer:
    """The active similarity over one searcher's collection stats."""

    def __init__(
        self,
        similarity: str,
        mu: float,
        lam: float,
        *,
        k1: float,
        b: float,
        max_doc: int,
        avgdl: np.float32,
        fields_info: dict[str, dict],
    ):
        self.spec = simbase.parse_spec(similarity)
        self.tf_params: tuple | None = None
        if similarity == "bm25":
            self.family = "bm25"
        elif similarity == "classic" or similarity.startswith("sweetspot"):
            self.family = "tfidf"
            if similarity != "classic":
                parts = similarity.split(":")
                if len(parts) not in (1, 3):
                    raise ValueError(
                        "sweetspot takes none or both tf factors: "
                        "sweetspot[:<tf_base>:<tf_min>]"
                    )
                base = np.float32(parts[1]) if len(parts) > 1 else np.float32(0.0)
                mn = np.float32(parts[2]) if len(parts) > 2 else np.float32(0.0)
                self.tf_params = (base, mn)
        elif similarity in ("lmd", "lmjm"):
            self.family = similarity
        elif self.spec is not None:
            self.family = "base"
        else:
            raise ValueError(f"unknown similarity {similarity!r}")
        self.max_doc = int(max_doc)
        self.k1p1 = np.float32(np.float32(k1) + np.float32(1.0))
        self.mu = np.float32(mu)
        self.lam = np.float32(lam)
        self.field_tokens = {
            f: int(info.get("sum_ttf", 0)) for f, info in fields_info.items()
        }
        # one 256-entry table per field, indexed by norm byte: BM25's
        # denominator cache, TF-IDF's decoded norm, or SimilarityBase's docLen
        ones = np.ones(256, dtype=np.float32)
        if self.family == "bm25":
            table = norm_cache(k1, b, avgdl)
            plain = np.full(256, np.float32(k1), dtype=np.float32)
        else:
            table = DECODE_TABLE if self.family == "tfidf" else NORM_TABLE
            plain = ones
        self.norms = {
            f: (plain if info.get("omit_norms") else table)
            for f, info in fields_info.items()
        }

    # -- weights -----------------------------------------------------------
    @property
    def block_max(self) -> bool:
        """Whether the build-time block bounds (max freq/(freq+cache) per
        block) bound this similarity's scores: BM25 only."""
        return self.family == "bm25"

    @property
    def nests(self) -> bool:
        """Whether a sub-query scored on its own composes exactly into a
        boolean/DisMax. TF-IDF's queryNorm couples every clause weight, so
        it weighs term and phrase clauses only."""
        return self.family != "tfidf"

    def clause_boost(self, boost: float, top_boost: float) -> float:
        """A clause's boost under a boolean/DisMax boost: SimilarityBase
        multiplies them (BasicStats totalBoost). BM25 keeps the clause's
        own; TF-IDF folds the outer boost into `normalize`."""
        if self.family in ("bm25", "tfidf") or float(top_boost) == 1.0:
            return boost
        return float(np.float32(np.float32(boost) * np.float32(top_boost)))

    def weight(self, stats, field: str, boost: float) -> SimWeight:
        """ComputeWeight over a clause's leaf-term stats [(df, ttf), ...] in
        declaration order (one pair for a term; every (slot, term) pair of a
        phrase, absent terms included)."""
        b32 = np.float32(boost)
        if self.family in ("bm25", "tfidf"):
            idf_of = bm25_idf if self.family == "bm25" else classic_idf
            s = np.float32(0.0)
            for df, _ttf in stats:
                s = np.float32(s + idf_of(df, self.max_doc))
            qw = np.float32(s * b32)
            if self.family == "bm25":
                return SimWeight(np.float32(qw * self.k1p1), idf=s)
            return SimWeight(qw, idf=s)
        nft = self.field_tokens.get(field, 0)
        if self.family == "base":
            parts = tuple(
                simbase.make_stats(self.max_doc, df, ttf, nft) for df, ttf in stats
            )
        else:
            smooth = self.lam if self.family == "lmjm" else self.mu
            parts = tuple(
                np.float32(
                    smooth
                    * np.float32(
                        (np.float32(ttf) + np.float32(1.0))
                        / (np.float32(nft) + np.float32(1.0))
                    )
                )
                for _df, ttf in stats
            )
        return SimWeight(b32, parts=parts)

    def normalize(self, weights: list[SimWeight], top_boost: float = 1.0) -> list[SimWeight]:
        """Normalize one query's clause weights together (the queryNorm
        hook): TF-IDF queryNorm = (float)(1/sqrt(f32 fold of qw² *
        f32(topBoost²))), 1 when that sum is 0; identity for every other
        family (queryNorm = 1)."""
        if self.family != "tfidf":
            return list(weights)
        ssq = np.float32(0.0)
        for w in weights:
            ssq = np.float32(ssq + np.float32(w.value * w.value))
        tb = np.float32(top_boost)
        ssq = np.float32(ssq * np.float32(tb * tb))
        qnorm = (
            np.float32(np.float64(1.0) / np.sqrt(np.float64(ssq)))
            if ssq > 0
            else np.float32(1.0)
        )
        return [
            replace(
                w,
                value=np.float32(np.float32(w.value * qnorm) * w.idf),
                query_norm=qnorm,
            )
            for w in weights
        ]

    def coord(self, max_overlap: int) -> np.ndarray | None:
        """coord(overlap, maxOverlap) = f32(overlap) / f32(maxOverlap) for
        overlap 0..max_overlap, as the float32 table BooleanScorer
        precomputes (coordFactors) — TF-IDF only; None for every other
        family, where coord is 1."""
        if self.family != "tfidf":
            return None
        return np.arange(max_overlap + 1, dtype=np.float32) / np.float32(max_overlap)

    # -- the kernel ----------------------------------------------------------
    def score(
        self, w: SimWeight, freq: np.ndarray, norm_byte: np.ndarray, field: str
    ) -> np.ndarray:
        """Score a batch of docs of one clause: freq float32 (a term freq,
        or a phrase/span sloppy freq), norm_byte the docs' norm bytes.
        float32 in, float32 out, each family's operation order kept."""
        norm = self.norms[field][norm_byte]
        if self.family == "bm25":
            return (w.value * freq) / (freq + norm)
        if self.family == "tfidf":
            return (self._tf(freq) * w.value) * norm
        if len(w.parts) == 1:
            return self._base(w.value, w.parts[0], freq, norm)
        total = np.zeros(len(freq), dtype=np.float32)
        for p in w.parts:
            total = (total + self._base(w.value, p, freq, norm)).astype(np.float32)
        return total

    def _tf(self, freq: np.ndarray) -> np.ndarray:
        if self.tf_params is None:
            return np.sqrt(freq)  # f32 sqrt == (float)Math.Sqrt
        from ..functions.sweetspot import baseline_tf

        return baseline_tf(freq, *self.tf_params)

    def _base(self, boost, p, freq: np.ndarray, dl: np.ndarray) -> np.ndarray:
        """One SimilarityBase kernel: p is a term's f32(smooth*cp) under
        lmd/lmjm, its BasicStats dict under DFR/IB."""
        if self.family == "lmd":
            l2 = np.log((self.mu / (dl + self.mu)).astype(np.float64))
            inner = np.float32(1.0) + freq / p
            sc = boost * (np.log(inner.astype(np.float64)) + l2).astype(np.float32)
            return np.maximum(sc, np.float32(0.0))
        if self.family == "lmjm":
            oml = np.float32(np.float32(1.0) - self.lam)
            inner = np.float32(1.0) + ((oml * freq) / dl) / p
            return boost * np.log(inner.astype(np.float64)).astype(np.float32)
        return simbase.block_scores(self.spec, p, boost, freq, dl)
